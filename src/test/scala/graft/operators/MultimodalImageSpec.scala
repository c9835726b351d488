package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Real image decode through the JDK's own codecs: fixtures are generated
  * in-test (BufferedImage -> ImageIO writer), so the assertions exercise
  * the actual PNG/BMP byte formats end to end with no committed binaries.
  */
class MultimodalImageSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def image(w: Int, h: Int, fmt: String)(px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("decodes a real PNG: dimensions, mean luminance, histogram") {
    // left half black (luma 0), right half white (luma 255)
    val bytes = image(10, 4, "png")((x, _) => if (x < 5) 0x000000 else 0xffffff)
    val d = Multimodal.decodeImage(bytes).get
    assert(d.width == 10 && d.height == 4 && d.frames == 1)
    assert(d.mean_luma == 127) // (20*0 + 20*255)/40 = 127.5, integer-div
    assert(d.feature(0) == 0.5f && d.feature(7) == 0.5f) // bins 0 and 7
    assert(d.feature.slice(1, 7).forall(_ == 0f))
  }

  test("decodes a real BMP with exact per-channel luminance weights") {
    // solid pure-red: luma = 299*255/1000 = 76
    val bytes = image(6, 6, "bmp")((_, _) => 0xff0000)
    val d = Multimodal.decodeImage(bytes).get
    assert(d.width == 6 && d.height == 6)
    assert(d.mean_luma == 76)
    assert(d.feature(76 >> 5) == 1.0f)
  }

  test("undecodable bytes fall back to the stub; empty payload is None") {
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
    // a truncated real PNG (valid signature, cut-off body) must be a
    // clean None regardless of which exception type the reader throws
    val png = image(8, 8, "png")((_, _) => 0x123456)
    assert(Multimodal.decodeImage(png.take(30)).isEmpty)
    assert(Multimodal.decodeImage(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty)
    // dispatch: image/* with garbage bytes -> stub dims, not a crash
    val d = Multimodal.decode("image/png", "garbage".getBytes("UTF-8"))
    assert(d.width == 16 + 7 % 64)
    // non-image media types never attempt the codec
    val t = Multimodal.decode("text/plain", "hello".getBytes("UTF-8"))
    assert(t.width == 16 + 5 % 64)
  }

  test("syntheticPngTable round-trips the real PNG codec distributed") {
    import spark.implicits._
    val docs = Seq.tabulate(40)(i => (i.toLong + 250, s"doc $i"))
      .toDF("doc_id", "text") // ids span the 256 gray-level wraparound
    val feats = Multimodal.extractFeatures(Multimodal.syntheticPngTable(docs))
    val rows = feats.collect()
    assert(rows.length == 40)
    rows.foreach { f =>
      assert(f.media_type == "image/png")
      assert(f.width == 16 + (f.doc_id % 48).toInt, s"doc ${f.doc_id}")
      assert(f.height == 16 + (f.doc_id % 31).toInt)
      assert(f.frames == 1)
      assert(f.mean_luma == (f.doc_id % 256).toInt) // solid gray: exact
      // solid image: all mass in one histogram bin
      assert(f.feature.count(_ > 0f) == 1)
      assert(math.abs(f.feature.sum - 1.0f) < 1e-5)
    }
  }
}
