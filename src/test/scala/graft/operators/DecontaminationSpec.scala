package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Benchmark decontamination semantics + the broadcast plan shape that
  * makes it a map-only scan over the corpus at 100 TB.
  */
class DecontaminationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("docs sharing any word n-gram with the benchmark are dropped") {
    val corpus = docs(
      1L -> "a b c d",      // gram "b c d" overlaps bench -> dropped
      2L -> "x y z w",      // no overlap -> kept
      3L -> "a b",          // < 3 words: no grams, can never drop
      4L -> null,           // null text: kept
      5L -> "c d e q r")    // gram "c d e" overlaps -> dropped
    val bench = docs(100L -> "b c d e")
    val kept = Decontamination.decontaminate(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L, 3L, 4L))
    val bad = Decontamination.contaminatedIds(corpus, bench)
      .collect().map(_.getLong(0)).sorted
    assert(bad.toSeq == Seq(1L, 5L))
  }

  test("duplicate grams within one doc flag it once, not per occurrence") {
    val corpus = docs(1L -> "p q r p q r p q r")
    val bench = docs(9L -> "p q r")
    val bad = Decontamination.contaminatedIds(corpus, bench).collect()
    assert(bad.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("corpus side never shuffles: both joins broadcast") {
    // auto-broadcast off, or tiny test frames would broadcast regardless
    // of the operator's explicit broadcast() hints and the assertion
    // would pass vacuously with the hints removed
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val corpus = docs(1L -> "a b c d", 2L -> "x y z")
      val bench = docs(9L -> "b c d")
      val plan = Decontamination.decontaminate(corpus, bench)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"))
      assert(!plan.contains("SortMergeJoin"),
        s"corpus-side shuffle join in plan:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("non-numeric doc id fails fast instead of silently passing docs") {
    import spark.implicits._
    val corpus = Seq(("docA", "a b c d")).toDF("doc_id", "text")
    val bench = docs(9L -> "b c d")
    val ex = intercept[Exception] {
      Decontamination.decontaminate(corpus, bench).collect()
    }
    assert(ex.getMessage != null)
  }
}
