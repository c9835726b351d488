package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** PMI collocations: hand-computed quantized scores, the short-doc
  * guard, and the reported-vs-normalizer minCount contract.
  */
class CollocationsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  test("hand-computed quantized PMI on a tiny corpus") {
    // docs: "a b a b", "a b c"
    // unigrams a:3 b:3 c:1, N_u = 7
    // bigrams (a,b):3 (b,a):1 (b,c):1, N_b = 5
    // pmi_q(a,b) = 3*49*1000 div (3*3*5) = 3266
    // pmi_q(b,c) = 1*49*1000 div (3*1*5) = 3266
    // pmi_q(b,a) = 1*49*1000 div (3*3*5) = 1088
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = Collocations
      .topBigramsByPmi(docs, k = 10, minCount = 1L, scale = 1000L)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("a", "b", 3L, 3L, 3L, 3266L),
      ("b", "c", 1L, 3L, 1L, 3266L),
      ("b", "a", 1L, 3L, 3L, 1088L)))
  }

  test("0/1-token and empty docs contribute no bigrams and no nulls") {
    val docs = Seq((1L, "solo"), (2L, ""), (3L, "   "), (4L, "x y"))
      .toDF("doc_id", "text")
    val got = Collocations
      .topBigramsByPmi(docs, k = 10, minCount = 1L, scale = 1000L)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // only bigram: (x, y); N_u = 3 (solo, x, y), N_b = 1
    // pmi_q = 1*9*1000 div (1*1*1) = 9000
    assert(got == Seq(("x", "y", 1L, 1L, 1L, 9000L)))
  }

  test("minCount cuts the report, not the N_b normalizer") {
    // "p q" x3 docs and one "r s": with minCount=2 only (p,q) reports,
    // but its pmi_q is computed against N_b = 4 (all bigrams)
    val docs = (1L to 3L).map(i => (i, "p q")) :+ (4L, "r s")
    val got = Collocations
      .topBigramsByPmi(docs.toDF("doc_id", "text"), k = 10,
        minCount = 2L, scale = 1000L)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // unigrams p:3 q:3 r:1 s:1, N_u = 8; (p,q) c_xy=3, N_b=4
    // pmi_q = 3*64*1000 div (3*3*4) = 192000 div 36 = 5333
    assert(got == Seq(("p", "q", 3L, 3L, 3L, 5333L)))
  }
}
