package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** HLL distinct sketches: small-cardinality exactness, the 4·rsd
  * accuracy band at estimation-mode cardinalities, and the batch-union
  * maintenance story (disjoint halves vs one shot).
  */
class DistinctSketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  test("rsd formula") {
    assert(math.abs(DistinctSketch.rsd(12) - 1.04 / 64.0) < 1e-12)
  }

  test("small cardinalities are exact (sketch stays in sparse mode)") {
    val docs = Seq(
      (0L, "a b c", "s0"), (1L, "a b d", "s0"), (2L, "x y", "s1"))
      .toDF("doc_id", "text", "source")
    val got = DistinctSketch.bySource(docs)
      .as[(String, Long, Double, Double)].collect()
      .map(r => (r._1, r._2, r._3.round, r._4.round)).sortBy(_._1)
    // incidence items are (doc_id, term) pairs: s0 has 6, s1 has 2
    assert(got.toSeq == Seq(("s0", 6L, 6L, 6L), ("s1", 2L, 2L, 2L)))
  }

  test("a source whose docs are all empty/whitespace still appears, with 0s") {
    // ADVICE r10: such a source produces no item rows; the inner join
    // used to drop it from the manifest instead of reporting n_exact = 0
    val docs = Seq(
      (0L, "a b", "s0"), (1L, "", "s_empty"), (2L, "   ", "s_empty"),
      (3L, null.asInstanceOf[String], "s_null"))
      .toDF("doc_id", "text", "source")
    val got = DistinctSketch.bySource(docs)
      .as[(String, Long, Double, Double)].collect()
      .map(r => (r._1, r._2, r._3.round, r._4.round)).sortBy(_._1)
    assert(got.toSeq == Seq(
      ("s0", 2L, 2L, 2L), ("s_empty", 0L, 0L, 0L), ("s_null", 0L, 0L, 0L)))
  }

  test("estimation-mode cardinality stays within 4·rsd; union of " +
    "disjoint halves agrees with one shot within the same band") {
    // 40k distinct items in one source — far past the lgK=12 sparse
    // threshold, so the register-estimation path is what's tested
    val docs = spark.range(4000).map { i =>
      (i, (0 until 10).map(j => s"t${i}_$j").mkString(" "), "s0")
    }.toDF("doc_id", "text", "source")
    val (src, exact, whole, merged) = DistinctSketch.bySource(docs)
      .as[(String, Long, Double, Double)].head()
    assert(src == "s0" && exact == 40000L)
    val band = 4.0 * DistinctSketch.rsd(12) * exact
    assert(math.abs(whole - exact) <= band,
      s"one-shot estimate $whole outside ±$band of $exact")
    assert(math.abs(merged - exact) <= band,
      s"union-of-halves estimate $merged outside ±$band of $exact")
  }
}
