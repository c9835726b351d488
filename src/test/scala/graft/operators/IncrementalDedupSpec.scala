package graft.operators

import graft.Tables
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental (batch-vs-base) dedup: cross-probe symmetry with the
  * self-join operator, label precedence, and the planted q136 contract
  * at sf0.001.
  */
class IncrementalDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val sf = "/root/testdata/sf0.001"

  test("minhashPairsAgainst probes batch vs base only, never base vs base") {
    val docs = Tables.documents(spark, sf).limit(100)
    // batch = exact copies of the base under shifted ids: every batch doc
    // must pair with its origin (J == 1), and ids never come from the
    // same side
    val batch = docs.withColumn("doc_id", col("doc_id") + 5000)
    val pairs = Dedup.minhashPairsAgainst(docs, batch, threshold = 0.9)
    val n = pairs.count()
    assert(n >= 100, s"expected every copy matched, got $n")
    assert(pairs.filter(col("batch_id") < 5000).count() == 0)
    assert(pairs.filter(col("base_id") >= 5000).count() == 0)
    assert(pairs.filter(col("batch_id") - 5000 === col("base_id"))
      .count() == 100)
  }

  test("incrementalLabel: exact beats near, near beats new") {
    import spark.implicits._
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "entirely different content about distributed query engines"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // identical to base 1 → exact_dup (even though it is also a near-dup)
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      // small suffix change → near_dup of base 1
      (11L, "the quick brown fox jumps over the lazy dog again and againX"),
      // unrelated → new
      (12L, "completely unrelated text with no shared shingles at all zz"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalLabel(base, batch, threshold = 0.7)
      .orderBy("doc_id")
      .as[(Long, String, java.lang.Long)].collect()
    assert(out.map(r => (r._1, r._2)).toSeq ==
      Seq((10L, "exact_dup"), (11L, "near_dup"), (12L, "new")))
    assert(out(0)._3 == 1L)
    assert(out(1)._3 == 1L)
    assert(out(2)._3 == null)
  }

  test("planted q136 contract holds at sf0.001") {
    val out = graft.SparkEntry.queries("q136_incremental_ingest")(spark, sf)
    // the in-query requires are the gate; just confirm all three planted
    // classes are present
    val byLabel = out.groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.getOrElse("exact_dup", 0L) > 0)
    assert(byLabel.getOrElse("near_dup", 0L) > 0)
    assert(byLabel.getOrElse("new", 0L) > 0)
  }
}
