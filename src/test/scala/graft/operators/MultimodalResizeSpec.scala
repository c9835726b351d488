package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Image resize + GRV1 video container, pinned against independent
  * sequential references computed in-test (no committed binaries): the
  * area-average resize must reproduce a per-cell integer mean computed
  * the slow way, and the video frame sampler must report exact per-frame
  * means for a non-solid clip.
  */
class MultimodalResizeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def png(w: Int, h: Int)(px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos), "no png writer")
    bos.toByteArray
  }

  private def decodePixels(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    (img.getWidth, img.getHeight,
      img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth))
  }

  // the reference the operator must match: for each target cell, the
  // floor-divided mean over the source pixels x·tw/w, y·th/h map into it
  private def referenceResize(w: Int, h: Int, tw: Int, th: Int,
      src: (Int, Int) => Int): Array[Int] = {
    val sums = Array.fill(tw * th)(Array(0L, 0L, 0L, 0L))
    for (y <- 0 until h; x <- 0 until w) {
      val cx = math.min(tw - 1, x * tw / w)
      val cy = math.min(th - 1, y * th / h)
      val c = sums(cy * tw + cx)
      val rgb = src(x, y)
      c(0) += (rgb >> 16) & 0xff; c(1) += (rgb >> 8) & 0xff
      c(2) += rgb & 0xff; c(3) += 1
    }
    sums.map(c => (((c(0) / c(3)).toInt) << 16) |
      (((c(1) / c(3)).toInt) << 8) | (c(2) / c(3)).toInt)
  }

  test("patterned resize matches the independent per-cell reference") {
    // 13x7 -> 5x3: deliberately non-divisible dims so cells are ragged
    val pat = (x: Int, y: Int) =>
      (((x * 37 + y * 91) % 256) << 16) | (((x * 11 + 3) % 256) << 8) |
        ((y * 53 + x) % 256)
    val resized = Multimodal.resizeImage(png(13, 7)(pat), 5, 3).get
    val (w, h, got) = decodePixels(resized)
    assert(w == 5 && h == 3)
    val want = referenceResize(13, 7, 5, 3, pat)
    assert(got.map(_ & 0xffffff).toSeq == want.toSeq)
  }

  test("solid input stays solid at the same level; luma is exact") {
    val resized = Multimodal.resizeImage(png(32, 24)((_, _) => 0x6f6f6f),
      8, 8).get
    val (w, h, pxs) = decodePixels(resized)
    assert(w == 8 && h == 8)
    assert(pxs.forall(p => (p & 0xffffff) == 0x6f6f6f))
    assert(Multimodal.decodeImage(resized).get.mean_luma == 0x6f)
  }

  test("very wide image: x*tw product past Int.MaxValue bins correctly") {
    // w=70000, tw=40000: x=69999 gives x*tw = 2.8e9 > 2^31 — Int math
    // would wrap negative and index out of bounds; the operator must
    // use Long math. Two-tone input so the binning is also observable.
    val w = 70000
    val src = (x: Int, _: Int) => if (x < w / 2) 0x000000 else 0xffffff
    val resized = Multimodal.resizeImage(png(w, 1)(src), 40000, 1).get
    val (rw, rh, pxs) = decodePixels(resized)
    assert(rw == 40000 && rh == 1)
    // source midpoint x=35000 lands at cell 35000*4/7 = 20000: cells
    // left of it solid black, right (inclusive) solid white
    val mid = 20000
    assert((pxs(0) & 0xffffff) == 0x000000)
    assert((pxs(mid - 1) & 0xffffff) == 0x000000)
    assert((pxs(mid) & 0xffffff) == 0xffffff)
    assert((pxs(39999) & 0xffffff) == 0xffffff)
  }

  test("upscale, empty, and undecodable payloads are None") {
    val small = png(4, 4)((_, _) => 0x808080)
    assert(Multimodal.resizeImage(small, 8, 2).isEmpty) // tw > w
    assert(Multimodal.resizeImage(small, 2, 8).isEmpty) // th > h
    assert(Multimodal.resizeImage(small, 4, 4).nonEmpty) // equal is legal
    assert(Multimodal.resizeImage(Array.emptyByteArray, 2, 2).isEmpty)
    assert(Multimodal.resizeImage(null, 2, 2).isEmpty)
    assert(Multimodal.resizeImage("junk".getBytes("UTF-8"), 2, 2).isEmpty)
    intercept[IllegalArgumentException](Multimodal.resizeImage(small, 0, 2))
  }

  test("resizeImages keeps the media schema and drops rejected payloads") {
    import spark.implicits._
    val rows = Seq(
      (1L, png(16, 16)((_, _) => 0x404040)),
      (2L, "not an image".getBytes("UTF-8")),
      (3L, png(4, 4)((_, _) => 0x202020))) // smaller than target: dropped
    val out = Multimodal.resizeImages(
      rows.toDF("doc_id", "payload"), targetW = 8, targetH = 8)
    assert(out.columns.toSeq == Seq("doc_id", "payload", "meta"))
    val collected = out.select("doc_id", "meta.media_type").as[(Long, String)]
      .collect().toMap
    assert(collected == Map(1L -> "image/png"))
  }

  test("animated GIF: sequence encode -> ImageIO decode roundtrip is exact") {
    val grays = Seq(10, 200, 17, 255, 0)
    val clip = Multimodal.encodeAnimatedGif(6, 4, grays)
    // sanity: it is a real GIF any external tool would accept
    assert(new String(clip.take(6), "US-ASCII").startsWith("GIF8"))
    val frames = Multimodal.decodeGifFrames(clip).get
    assert(frames.size == 5)
    frames.zip(grays).foreach { case (d, g) =>
      assert(d.width == 6 && d.height == 4)
      assert(d.mean_luma == g, s"frame gray $g decoded as ${d.mean_luma}")
    }
    assert(Multimodal.decodeGifFrames(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeGifFrames(null).isEmpty)
    assert(Multimodal.decodeGifFrames("junk".getBytes("UTF-8")).isEmpty)
    // a PNG payload is not a GIF: the gif-specific reader rejects it
    assert(Multimodal.decodeGifFrames(png(4, 4)((_, _) => 0x808080)).isEmpty)
  }

  test("gifFrameSample matches the GRV1 sampler on the same construction") {
    import spark.implicits._
    val docs = Seq(3L, 10L, 21L).toDF("doc_id")
    val fromGif = Multimodal.gifFrameSample(
      Multimodal.syntheticGifTable(docs), stride = 3)
      .as[(Long, Int, Int, Int, Int, Int)].collect().sortBy(r => (r._1, r._2))
    val fromGrv = Multimodal.videoFrameSample(
      Multimodal.syntheticVideoTable(docs), stride = 3)
      .as[(Long, Int, Int, Int, Int, Int)].collect().sortBy(r => (r._1, r._2))
    assert(fromGif.nonEmpty && fromGif.toSeq == fromGrv.toSeq)
    // undecodable payloads are dropped, not failed
    val junk = Seq((1L, "junk".getBytes("UTF-8"))).toDF("doc_id", "payload")
    assert(Multimodal.gifFrameSample(junk).count() == 0L)
  }

  test("GRV1 header roundtrip; truncated and forged containers rejected") {
    val frames = Seq.tabulate(5)(f => Array.fill(6 * 4)((f * 10).toByte))
    val clip = Multimodal.encodeRawVideo(6, 4, frames)
    assert(Multimodal.decodeVideoHeader(clip)
      .contains(Multimodal.VideoHeader(6, 4, 5)))
    assert(Multimodal.decodeVideoHeader(clip.dropRight(1)).isEmpty)
    assert(Multimodal.decodeVideoHeader(clip ++ Array(0.toByte)).isEmpty)
    val badMagic = clip.clone(); badMagic(0) = 'X'.toByte
    assert(Multimodal.decodeVideoHeader(badMagic).isEmpty)
    // forged frame count disagrees with the payload length
    val forged = clip.clone()
    forged(15) = (forged(15) + 1).toByte
    assert(Multimodal.decodeVideoHeader(forged).isEmpty)
    assert(Multimodal.decodeVideoHeader(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeVideoHeader(null).isEmpty)
  }

  test("decodeVideo: exact integer mean and histogram over all frames") {
    // frame 0 all 10, frame 1 all 200, frame 2 half 0 / half 255
    val half = Array.tabulate(4 * 2)(i => if (i < 4) 0.toByte else 255.toByte)
    val clip = Multimodal.encodeRawVideo(4, 2,
      Seq(Array.fill(8)(10.toByte), Array.fill(8)(200.toByte), half))
    val d = Multimodal.decodeVideo(clip).get
    assert(d.width == 4 && d.height == 2 && d.frames == 3)
    assert(d.mean_luma == (8 * 10 + 8 * 200 + 4 * 0 + 4 * 255) / 24)
    assert(d.feature(10 >> 5) == 12f / 24) // gray 10 and gray 0 share bin 0
    assert(d.feature(200 >> 5) == 8f / 24)
    assert(d.feature(255 >> 5) == 4f / 24)
  }

  test("videoFrameSample: stride indices and exact non-solid frame means") {
    import spark.implicits._
    // 7 frames of 3x2; frame f holds bytes f, f+1, ..., f+5 ->
    // mean = f + 15/6 = f + 2 (integer division)
    val frames = Seq.tabulate(7)(f => Array.tabulate(6)(i => (f + i).toByte))
    val clip = Multimodal.encodeRawVideo(3, 2, frames)
    val media = Seq((9L, clip), (10L, "garbage".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val got = Multimodal.videoFrameSample(media, stride = 3)
      .as[(Long, Int, Int, Int, Int, Int)].collect().sortBy(_._2)
    assert(got.toSeq == Seq(
      (9L, 0, 3, 2, 7, 2), (9L, 3, 3, 2, 7, 5), (9L, 6, 3, 2, 7, 8)))
  }

  test("decode dispatch routes video/grv through the real container parse") {
    val clip = Multimodal.encodeRawVideo(4, 2,
      Seq(Array.fill(8)(10.toByte), Array.fill(8)(200.toByte)))
    val d = Multimodal.decode("video/grv", clip)
    assert(d.width == 4 && d.height == 2 && d.frames == 2) // not stub dims
    assert(d.mean_luma == (8 * 10 + 8 * 200) / 16)
    // feature columns flow through extractFeatures with the REAL stats
    import spark.implicits._
    val docs = Seq(3L).toDF("doc_id")
    val feats = Multimodal
      .extractFeatures(Multimodal.syntheticVideoTable(docs))
      .collect()
    assert(feats.head.frames == 8 + 3) // container frame count, not 1
    assert(feats.head.width == 16 + 3 && feats.head.height == 16 + 3)
    // a forged/unknown video container still stubs instead of crashing
    val stub = Multimodal.decode("video/mp4", Array[Byte](1, 2, 3))
    assert(stub.frames == 1)
  }

  test("oversized container is rejected by the Long-math size check") {
    val e = intercept[IllegalArgumentException](
      Multimodal.encodeRawVideo(65536, 65536, Seq(Array[Byte](1))))
    assert(e.getMessage.contains("too large"))
  }

  test("syntheticVideoTable is closed-form in doc_id") {
    import spark.implicits._
    val docs = Seq(5L, 12L).toDF("doc_id")
    val media = Multimodal.syntheticVideoTable(docs)
    val rows = media.select("doc_id", "payload")
      .as[(Long, Array[Byte])].collect().toMap
    val hd5 = Multimodal.decodeVideoHeader(rows(5L)).get
    assert(hd5 == Multimodal.VideoHeader(16 + 5, 16 + 5, 8 + 5))
    // frame f of doc 12 is solid (12 + 7f) % 256
    val sampled = Multimodal.videoFrameSample(media, stride = 1)
      .filter(col("doc_id") === 12L)
      .select("frame_idx", "mean_luma").as[(Int, Int)].collect().toMap
    assert((0 until 12).forall(f => sampled(f) == (12 + 7 * f) % 256))
  }
}
