package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Closed-form chunk layouts for [[Chunking.slidingChunks]] plus the
  * coverage guarantee (stride ≤ window ⇒ every token appears in some
  * chunk and the last chunk ends at the last token).
  */
class ChunkingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  private def doc(id: Long, n: Int) =
    (id, (1 to n).map(i => s"t$i").mkString(" "))

  private def chunks(n: Int, window: Int, stride: Int) =
    Chunking.slidingChunks(Seq(doc(1L, n)).toDF("doc_id", "text"),
      window, stride)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._2).toSeq

  test("short doc (n < window) is one whole-doc chunk") {
    assert(chunks(3, 5, 4) ==
      Seq((1L, 0L, 1L, 3L, "t1 t2 t3")))
  }

  test("n == window is exactly one chunk") {
    val got = chunks(5, 5, 4)
    assert(got.map(c => (c._2, c._3, c._4)) == Seq((0L, 1L, 5L)))
  }

  test("n == window + 1 spills into a second, overlapping chunk") {
    val got = chunks(6, 5, 4)
    assert(got.map(c => (c._2, c._3, c._4)) == Seq((0L, 1L, 5L), (1L, 5L, 6L)))
    assert(got(1)._5 == "t5 t6")
  }

  test("exact-multiple boundary: no empty trailing chunk") {
    // n=9, w=5, s=4: chunks at tokens 1-5 and 5-9 — NOT a third at 9+
    val got = chunks(9, 5, 4)
    assert(got.map(c => (c._3, c._4)) == Seq((1L, 5L), (5L, 9L)))
  }

  test("coverage: every token lands in >=1 chunk, last chunk ends at n") {
    for (n <- Seq(1, 7, 12, 50, 123); (w, s) <- Seq((10, 7), (5, 5), (8, 1))) {
      val got = chunks(n, w, s)
      val covered = got.flatMap(c => c._3 to c._4).toSet
      assert(covered == (1L to n).toSet, s"n=$n w=$w s=$s")
      assert(got.last._4 == n, s"n=$n w=$w s=$s last chunk must reach n")
      // spans match the reassembled text
      got.foreach { c =>
        assert(c._5 == (c._3 to c._4).map(i => s"t$i").mkString(" "))
      }
    }
  }
}
