package graft.operators

import graft.Tables
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** quantileKeep / topPSources invariants beyond what the q132/q133
  * oracles pin: the NULL-group contract, the coverage bound, and the
  * minimality of the top-p prefix.
  */
class AdaptiveThresholdSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val sf = "/root/testdata/sf0.001"

  test("quantileKeep keeps ~top-(1-q) per group and drops NULL groups") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val kept = Curation.quantileKeep(docs, "n_chars", "lang", q = 0.75)

    // every group keeps at least ceil((1-q)*n) and at most that + ties
    val sizes = docs.groupBy("lang").count()
      .withColumnRenamed("count", "n")
    val keptSizes = kept.groupBy("lang").count()
      .withColumnRenamed("count", "k")
    val bad = sizes.join(keptSizes, "lang")
      .filter(!(col("k") >= ceil(col("n") * 0.25) - 1 &&
        col("k") <= col("n") / 2))
      .count()
    assert(bad == 0)

    // a NULL group key must not survive (nor crash)
    val withNull = docs.unionByName(
      docs.limit(3).withColumn("lang", lit(null).cast("string"))
        .withColumn("doc_id", col("doc_id") + 90000))
    val keptNull = Curation.quantileKeep(withNull, "n_chars", "lang", 0.75)
      .filter(col("doc_id") >= 90000).count()
    assert(keptNull == 0)
  }

  test("topPSources prefix covers p and is minimal") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val p = 800
    val kept = Curation.topPSources(docs, pPermille = p)
      .orderBy(col("weight").desc, col("source"))
      .as[(String, Long, Long)].collect()

    val total = docs.agg(sum("n_chars")).as[Long].head()
    val need = (total * p + 999) / 1000
    val covered = kept.map(_._2).sum
    assert(covered >= need, s"prefix covers $covered < $need")
    // minimal: without its last (smallest) source the prefix falls short
    assert(covered - kept.last._2 < need)
    // cum_weight is consistent with the weights
    assert(kept.map(_._2).scanLeft(0L)(_ + _).tail.sameElements(
      kept.map(_._3)))
  }
}
