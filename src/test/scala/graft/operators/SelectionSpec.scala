package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSIR-shaped importance selection: hand-computed quantized ratios on
  * a tiny corpus, plus the determinism/edge contracts.
  */
class SelectionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  test("importanceWeights: hand-computed quantized ratios") {
    // A (target): x x y   B (source-only): y z
    // counts: x ct=2 cs=2 | y ct=1 cs=2 | z ct=0 cs=1; scale=1000:
    //   r_q(x) = 3000 div 3 = 1000; r_q(y) = 2000 div 3 = 666
    //   r_q(z) = 1000 div 2 = 500
    // A: weight = 2*1000 + 666 = 2666, n=3, score = 888
    // B: weight = 666 + 500 = 1166, n=2, score = 583
    val docs = Seq((1L, "x x y", "en"), (2L, "y z", "de"))
      .toDF("doc_id", "text", "lang")
    val got = Selection
      .importanceWeights(docs, col("lang") === "en", scale = 1000L)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 3L, 2666L, 888L), (2L, 2L, 1166L, 583L)))
  }

  test("selectByImportance: rank order, k cut, doc_id tiebreak") {
    val docs = Seq(
      (1L, "x x y", "en"), (2L, "y z", "de"),
      (3L, "x x y", "de")) // same text as 1 -> same score, id breaks tie
    .toDF("doc_id", "text", "lang")
    val top = Selection
      .selectByImportance(docs, col("lang") === "en", k = 2, scale = 1000L)
      .select("doc_id", "rank").as[(Long, Long)].collect().sortBy(_._2)
    assert(top.toSeq == Seq((1L, 1L), (3L, 2L)))
  }

  test("NULL target-predicate values mean non-target, not NULL weights") {
    // same corpus as the hand-computed test, but B's lang is NULL: the
    // predicate lang === "en" is NULL for B, which must count as 0
    // (source-only) — identical numbers to the lang="de" variant
    val docs = Seq((1L, "x x y", "en"), (2L, "y z", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    val got = Selection
      .importanceWeights(docs, col("lang") === "en", scale = 1000L)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 3L, 2666L, 888L), (2L, 2L, 1166L, 583L)))
  }

  test("tokenless docs are absent; whitespace-only text too") {
    val docs = Seq((1L, "x", "en"), (2L, "", "en"), (3L, "   ", "de"))
      .toDF("doc_id", "text", "lang")
    val ids = Selection.importanceWeights(docs, col("lang") === "en")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L))
  }

  test("weights are partitioning-invariant (pure-integer arithmetic)") {
    val docs = (0L until 200L)
      .map(i => (i, s"w${i % 7} w${i % 3} common", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val a = Selection.importanceWeights(docs, col("lang") === "en")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val b = Selection
      .importanceWeights(docs.repartition(13), col("lang") === "en")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }
}
