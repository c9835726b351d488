package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Hand cases for [[Decontamination.maskContaminatedSpans]] and for
  * [[Cdc.mergeAggDelta]]'s refresh invariant.
  */
class MaskSpansSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  test("benchmark trigram masks exactly its covering tokens") {
    val docs = Seq((0L, "p q a b c r s"), (1L, "x y z")).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c")).toDF("doc_id", "text")
    val got = Decontamination
      .maskContaminatedSpans(docs, bench, n = 3, mask = "M")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 7L, 3L, "p q M M M r s"),
      (1L, 3L, 0L, "x y z")))
  }

  test("overlapping hits mask the union of their spans; short docs pass") {
    val docs = Seq((0L, "a b c d e"), (1L, "a b")).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c"), (101L, "c d e")).toDF("doc_id", "text")
    val got = Decontamination
      .maskContaminatedSpans(docs, bench, n = 3, mask = "M")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 5L, 5L, "M M M M M"),
      (1L, 2L, 0L, "a b"))) // shorter than n: no gram, never masked
  }

  test("mergeAggDelta equals the full recompute") {
    val base = Seq((1L, 10.0), (1L, 20.0), (2L, 5.0)).toDF("k", "v")
    val delta = Seq((1L, 1.0), (3L, 7.0)).toDF("k", "v")
    val snap = base.groupBy("k").agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"),
      org.apache.spark.sql.functions.sum("v").as("total"))
    val got = Cdc.mergeAggDelta(snap, delta, "k", "v")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 3L, 31.0), (2L, 1L, 5.0), (3L, 1L, 7.0)))
  }
}
