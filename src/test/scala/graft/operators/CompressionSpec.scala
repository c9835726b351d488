package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Compression-signal checks: repetitive text compresses far below
  * high-entropy text, the permille arithmetic is exact, and the
  * operator is deterministic across runs.
  */
class CompressionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  test("repetitive text compresses far below mixed-entropy text") {
    val rep = Seq.fill(200)("the same phrase again").mkString(" ")
    val rnd = new scala.util.Random(11)
    val noisy = Seq.fill(200)(rnd.alphanumeric.take(20).mkString).mkString(" ")
    val docs = Seq((1L, rep), (2L, noisy), (3L, ""), (4L, null: String))
      .toDF("doc_id", "text")
    val got = TextAnalysis.compressionStats(docs)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap

    val (_, repBytes, repComp, repPm) = got(1L)
    val (_, noisyBytes, _, noisyPm) = got(2L)
    assert(repBytes == rep.getBytes("UTF-8").length.toLong)
    assert(repPm == 1000L * repComp / repBytes)
    assert(repPm < 100, s"boilerplate should crush: $repPm")
    assert(noisyPm > 500, s"high-entropy should resist: $noisyPm")
    assert(noisyBytes > 0)
    // empty/null docs: defined, flagged incompressible
    assert(got(3L)._4 == 1000L && got(4L)._4 == 1000L)
  }

  test("deflate bound covers worst-case EXPANDING input (the hang scenario)") {
    // truly random bytes EXPAND under deflate (stored blocks: ~5 bytes
    // per 16 KiB + trailer), so the old `len + 64` buffer fills and
    // deflate() returns 0 forever — prove at the byte level that (a)
    // random input really does exceed len + 64 and (b) the zlib bound
    // the operator now uses drains to completion
    val rnd = new scala.util.Random(7)
    val bytes = Array.fill[Byte](600 * 1024)(rnd.nextInt().toByte)
    val d = new java.util.zip.Deflater(6)
    d.setInput(bytes)
    d.finish()
    val out = new Array[Byte](bytes.length + bytes.length / 16383 * 5 + 64)
    var n = 0
    var spins = 0
    while (!d.finished() && spins < 1000000) {
      n += d.deflate(out, n, out.length - n)
      spins += 1
    }
    d.end()
    assert(d.finished(), "deflate must finish inside the zlib bound")
    assert(n > bytes.length + 64,
      s"random input must expand past the old len+64 buffer: $n")
  }

  test("large high-entropy doc through the operator terminates") {
    val rnd = new scala.util.Random(7)
    val big = new String(Array.fill(600 * 1024)((rnd.nextInt(256) - 128).toByte),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val got = TextAnalysis.compressionStats(Seq((1L, big)).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long)].head()
    assert(got._3 > 0 && got._4 >= 700, s"high-entropy should resist: $got")
  }

  test("deterministic across runs") {
    val docs = Seq((1L, "alpha beta gamma alpha beta")).toDF("doc_id", "text")
    val a = TextAnalysis.compressionStats(docs).collect().toSeq
    val b = TextAnalysis.compressionStats(docs).collect().toSeq
    assert(a == b)
  }
}
