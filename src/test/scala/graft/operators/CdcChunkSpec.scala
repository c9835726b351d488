package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Closed-form kernels for content-defined chunking: q160's oracle rows
  * prove cross-engine agreement at fixture scale; this pins the
  * properties that make CDC the edit-robust chunker — losslessness,
  * boundary determinism, and the headline property fixed-width chunking
  * lacks: a prefix insertion leaves every boundary after it intact.
  */
class CdcChunkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  private def chunksOf(texts: (Long, String)*): Map[Long, Seq[String]] =
    Chunking.contentDefinedChunks(texts.toSeq.toDF("doc_id", "text"))
      .as[(Long, Long, String)].collect()
      .groupBy(_._1)
      .map { case (id, rows) =>
        id -> rows.sortBy(_._2).map(_._3).toSeq
      }

  /** Non-periodic deterministic text: a periodic string (a phrase
    * repeated N times) has only one period's worth of DISTINCT hash
    * windows, and if none of those hits the boundary pattern the whole
    * text is one chunk no matter how long — an LCG letter stream gives
    * the ~1/64 boundary density the mask implies.
    */
  private val sample = {
    var st = 42L
    val sb = new StringBuilder
    for (i <- 0 until 2000) {
      st = st * 6364136223846793005L + 1442695040888963407L
      val c = ('a' + ((st >>> 33) % 27)).toChar // 27th value = space-ish
      sb.append(if (c > 'z') ' ' else c)
      if (i % 9 == 8) sb.append(' ')
    }
    sb.toString
  }

  test("chunks concatenate losslessly back to the text") {
    val got = chunksOf((1L, sample))(1L)
    assert(got.mkString("") == sample)
    assert(got.forall(_.nonEmpty))
  }

  test("long real-ish text actually splits (mask 63 ~ 64-char chunks)") {
    val got = chunksOf((1L, sample))(1L)
    assert(got.length > 3, s"expected several chunks, got ${got.length}")
  }

  test("identical texts chunk identically (determinism across docs)") {
    val got = chunksOf((1L, sample), (2L, sample))
    assert(got(1L) == got(2L))
  }

  test("a prefix edit leaves boundaries after it intact") {
    // fixed-width chunking shifts EVERY chunk after an insertion; CDC
    // must re-align: all but the first few chunks of the edited doc
    // appear verbatim in the original's chunk stream
    val edited = "INSERTED-PREFIX " + sample
    val got = chunksOf((1L, sample), (2L, edited))
    val orig = got(1L).toSet
    val tail = got(2L).drop(2)
    assert(tail.nonEmpty)
    val realigned = tail.count(orig.contains)
    assert(realigned >= tail.length - 1,
      s"only $realigned of ${tail.length} post-edit chunks re-aligned")
  }

  test("short docs are one whole-text chunk; empty docs emit nothing") {
    val got = chunksOf((1L, "tiny"), (2L, ""))
    assert(got(1L) == Seq("tiny"))
    assert(!got.contains(2L))
  }
}
