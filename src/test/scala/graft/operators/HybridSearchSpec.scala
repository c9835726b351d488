package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** RRF fusion: hand-computed scores, missing-list behavior, tie-breaks,
  * and the bounded-input contract.
  */
class HybridSearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  test("hand-computed fusion of two ranked lists") {
    // lex: d1=1, d2=2, d3=3 ; sem: d2=1, d4=2, d1=3
    val lex = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "r_lex")
    val sem = Seq((2L, 1L), (4L, 2L), (1L, 3L)).toDF("doc_id", "r_sem")
    val got = HybridSearch
      .rrfFuse(Seq(lex -> "r_lex", sem -> "r_sem"), k = 4, c = 60)
      .select("doc_id", "rrf_score", "rank")
      .as[(Long, Double, Long)].collect().sortBy(_._3)
    def s(rs: Seq[Long]) = rs.map(r => 1.0 / (60 + r)).sum
    // d2: 1/62 + 1/61 ; d1: 1/61 + 1/63 ; d3: 1/63 ; d4: 1/62
    assert(got.map(_._1).toSeq == Seq(2L, 1L, 4L, 3L))
    assert(math.abs(got(0)._2 - s(Seq(2, 1))) < 1e-15)
    assert(math.abs(got(1)._2 - s(Seq(1, 3))) < 1e-15)
    assert(math.abs(got(2)._2 - (1.0 / 62)) < 1e-15)
    assert(math.abs(got(3)._2 - (1.0 / 63)) < 1e-15)
  }

  test("docs absent from one list contribute zero, not null") {
    val a = Seq((1L, 1L)).toDF("doc_id", "r_a")
    val b = Seq((2L, 1L)).toDF("doc_id", "r_b")
    val got = HybridSearch.rrfFuse(Seq(a -> "r_a", b -> "r_b"), k = 5)
      .select("doc_id", "rrf_score").as[(Long, Double)].collect().toMap
    assert(got.size == 2)
    assert(got(1L) == 1.0 / 61 && got(2L) == 1.0 / 61)
  }

  test("equal scores break ties by id; k truncates") {
    val a = Seq((5L, 1L), (3L, 1L)).toDF("doc_id", "r_a") // same rank twice
    val b = Seq((5L, 2L), (3L, 2L)).toDF("doc_id", "r_b")
    val got = HybridSearch.rrfFuse(Seq(a -> "r_a", b -> "r_b"), k = 1)
      .select("doc_id", "rank").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((3L, 1L)))
  }

  test("three-list fusion adds left-to-right") {
    val a = Seq((1L, 1L)).toDF("doc_id", "r_a")
    val b = Seq((1L, 2L)).toDF("doc_id", "r_b")
    val c = Seq((1L, 3L)).toDF("doc_id", "r_c")
    val got = HybridSearch
      .rrfFuse(Seq(a -> "r_a", b -> "r_b", c -> "r_c"), k = 1)
      .select("rrf_score").as[Double].head()
    assert(got == ((1.0 / 61 + 1.0 / 62) + 1.0 / 63))
  }

  test("duplicate rank column names are rejected") {
    val a = Seq((1L, 1L)).toDF("doc_id", "r")
    intercept[IllegalArgumentException] {
      HybridSearch.rrfFuse(Seq(a -> "r", a -> "r"))
    }
  }
}
