package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** RIFF/AVI container kernels (q139's standard-container path): exact
  * round-trip of the chunk grammar, malformed-container rejection,
  * non-solid frame means (bottom-up padded-row addressing), and
  * cross-container agreement — the SAME clip sampled through AVI, GIF
  * and the GRV1 interchange must emit identical rows, so the three
  * codecs pin each other.
  */
class MultimodalAviSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def solid(w: Int, h: Int, g: Int): Array[Byte] = {
    val a = new Array[Byte](w * h)
    java.util.Arrays.fill(a, g.toByte)
    a
  }

  test("round-trip: dims, frame count, solid means survive the RIFF grammar") {
    val clip = Multimodal.encodeAvi(5, 3, // width 5 forces row padding
      Seq(solid(5, 3, 0), solid(5, 3, 7), solid(5, 3, 255)))
    val frames = Multimodal.decodeAviFrames(clip).get
    assert(frames.size == 3)
    assert(frames.forall(f => f.width == 5 && f.height == 3))
    assert(frames.map(_.mean_luma) == Seq(0, 7, 255))
  }

  test("non-solid frame: exact integer mean over pixels, padding excluded") {
    // 5x2 frame, row padding = 3 bytes/row that must NOT enter the mean
    val px = Array.tabulate(10)(i => (i * 20).toByte) // 0,20,...,180
    val clip = Multimodal.encodeAvi(5, 2, Seq(px))
    val d = Multimodal.decodeAviFrames(clip).get.head
    assert(d.mean_luma == px.map(_ & 0xff).sum / 10)
  }

  test("rejection: truncation, forged size, wrong magic, garbage, null") {
    val clip = Multimodal.encodeAvi(4, 4, Seq(solid(4, 4, 9)))
    assert(Multimodal.decodeAviFrames(clip).isDefined)
    assert(Multimodal.decodeAviFrames(clip.dropRight(1)).isEmpty)
    assert(Multimodal.decodeAviFrames(clip ++ Array(0.toByte)).isEmpty)
    val wrongMagic = clip.clone(); wrongMagic(0) = 'X'.toByte
    assert(Multimodal.decodeAviFrames(wrongMagic).isEmpty)
    // forge the avih frame count: parsed frames disagree -> reject
    val forged = clip.clone()
    // avih dwTotalFrames lives at offset 12(RIFF)+12(LIST hdrl)+8+16
    val tfOff = 12 + 12 + 8 + 16
    forged(tfOff) = 2
    assert(Multimodal.decodeAviFrames(forged).isEmpty)
    assert(Multimodal.decodeAviFrames(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeAviFrames(null).isEmpty)
    assert(Multimodal.decodeAviFrames("not an avi at all".getBytes).isEmpty)
  }

  test("rejection: deeply nested LIST shells are a None, not a StackOverflow") {
    // a forged payload of ~20k nested LIST(movi) headers — every size
    // field valid — must hit the depth cap, not recurse to a JVM Error
    val depth = 20000
    val total = 12 + depth * 12
    val bb = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def put4(s: String) = bb.put(s.getBytes("US-ASCII"))
    put4("RIFF"); bb.putInt(total - 8); put4("AVI ")
    var remaining = total - 12
    while (remaining >= 12) {
      put4("LIST"); bb.putInt(remaining - 8); put4("movi")
      remaining -= 12
    }
    assert(Multimodal.decodeAviFrames(bb.array()).isEmpty)
  }

  test("cross-container agreement: AVI == GIF == GRV1 frame samples") {
    import spark.implicits._
    val docs = (0L until 40L).toDF("doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "frame_idx").collect().map(_.toSeq).toSeq
    val avi = rows(Multimodal.aviFrameSample(
      Multimodal.syntheticAviTable(docs), stride = 3))
    val gif = rows(Multimodal.gifFrameSample(
      Multimodal.syntheticGifTable(docs), stride = 3))
    val grv = rows(Multimodal.videoFrameSample(
      Multimodal.syntheticVideoTable(docs), stride = 3))
    assert(avi.nonEmpty)
    assert(avi == gif)
    assert(avi == grv)
  }

  test("MJPEG: solid-gray roundtrip is exact through the real JPEG codec") {
    val frames = Seq(0, 7, 128, 255).map(g =>
      Multimodal.encodeJpegGray(5, 3, g))
    val clip = Multimodal.encodeAviMjpeg(5, 3, frames)
    val ds = Multimodal.decodeAviFrames(clip).get
    assert(ds.size == 4)
    assert(ds.forall(d => d.width == 5 && d.height == 3))
    assert(ds.map(_.mean_luma) == Seq(0, 7, 128, 255))
    val parsed = Multimodal.parseAvi(clip).get
    assert(parsed.codec == Multimodal.CodecMjpg)
  }

  test("MJPEG rejection: non-JPEG chunks, dim mismatch, truncation, stray codec") {
    val good = Multimodal.encodeAviMjpeg(5, 3,
      Seq(Multimodal.encodeJpegGray(5, 3, 10)))
    assert(Multimodal.decodeAviFrames(good).isDefined)
    // truncation and size forgery reject exactly like the DIB path
    assert(Multimodal.decodeAviFrames(good.dropRight(1)).isEmpty)
    assert(Multimodal.decodeAviFrames(good ++ Array(0.toByte)).isEmpty)
    // a frame chunk that is not SOI..EOI-delimited must reject at parse
    val notJpeg = good.clone()
    val soi = indexOfChunk(notJpeg, "00dc") + 8
    notJpeg(soi) = 0 // clobber the SOI magic
    assert(Multimodal.parseAvi(notJpeg).isEmpty)
    // a JPEG whose internal dims disagree with the container headers:
    // the container parses (the chunk IS a complete JPEG) but decode
    // must drop the payload (all-or-nothing), never emit mis-sized rows
    val mismatch = Multimodal.encodeAviMjpeg(5, 3,
      Seq(Multimodal.encodeJpegGray(4, 4, 10)))
    assert(Multimodal.parseAvi(mismatch).isDefined)
    assert(Multimodal.decodeAviFrames(mismatch).isEmpty)
    // an unknown biCompression fourcc rejects at parse
    val strange = good.clone()
    val strfOff = indexOfChunk(strange, "strf") + 8
    strange(strfOff + 16) = 'X'.toByte // biCompression first byte
    assert(Multimodal.parseAvi(strange).isEmpty)
  }

  test("cross-container agreement: MJPEG == DIB AVI frame samples") {
    import spark.implicits._
    val docs = (0L until 40L).toDF("doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "frame_idx").collect().map(_.toSeq).toSeq
    val mjpg = rows(Multimodal.aviFrameSample(
      Multimodal.syntheticMjpegAviTable(docs), stride = 3))
    val dib = rows(Multimodal.aviFrameSample(
      Multimodal.syntheticAviTable(docs), stride = 3))
    assert(mjpg.nonEmpty)
    assert(mjpg == dib)
  }

  private def indexOfChunk(bytes: Array[Byte], fourcc: String): Int = {
    val pat = fourcc.getBytes("US-ASCII")
    var i = 0
    while (i + 4 <= bytes.length) {
      if (bytes(i) == pat(0) && bytes(i + 1) == pat(1) &&
        bytes(i + 2) == pat(2) && bytes(i + 3) == pat(3)) return i
      i += 1
    }
    sys.error(s"chunk $fourcc not found")
  }

  test("the payload is a well-formed RIFF file byte-for-byte re-walkable") {
    val clip = Multimodal.encodeAvi(16, 16, Seq(solid(16, 16, 100)))
    // RIFF size field must cover exactly the rest of the file
    val bb = java.nio.ByteBuffer.wrap(clip)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(new String(clip, 0, 4, "US-ASCII") == "RIFF")
    assert(bb.getInt(4) == clip.length - 8)
    assert(new String(clip, 8, 4, "US-ASCII") == "AVI ")
    // idx1 present (AVIF_HASINDEX is declared)
    assert(new String(clip, clip.length - 16 - 8, 4, "US-ASCII") == "idx1")
  }
}
