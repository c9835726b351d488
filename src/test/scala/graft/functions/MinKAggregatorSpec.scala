package graft.functions

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** MinKAggregator (the smallest-k twin of TopKAggregator) + the
  * sourceCap quota selection built on it: kernel-level reduce/merge
  * behavior, then the end-to-end cap against an in-memory row_number
  * reference (the same formulation the q77 oracle runs in DuckDB).
  */
class MinKAggregatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  test("typed agg returns exact per-group smallest-k across partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = for {
      g <- 0L until 4L
      id <- 0L until 300L
    } yield (g, id, rnd.nextInt(50).toLong) // many key ties
    val ds = rows.map { case (g, id, k) => (g, k, id) }.toDS().repartition(8)

    val k = 6
    val got = ds
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(MinKAggregator(k).toColumn.name("mink"))
      .collect()
      .toMap

    rows.groupBy(_._1).foreach { case (g, rws) =>
      val want = rws.map { case (_, id, key) => (key, id) }.sorted.take(k)
      assert(got(g) == want, s"group $g")
    }
  }

  test("non-positive k is rejected at construction") {
    intercept[IllegalArgumentException](MinKAggregator(0))
    intercept[IllegalArgumentException](MinKAggregator(-1))
  }

  test("buffer never exceeds k; merge is order-insensitive; id breaks ties") {
    val agg = MinKAggregator(3)
    val a = Seq((1L, 10L), (2L, 20L), (3L, 30L))
    val b = Seq((0L, 99L), (9L, 1L))
    assert(agg.merge(a, b) == agg.merge(b, a))
    assert(agg.merge(a, b) == Seq((0L, 99L), (1L, 10L), (2L, 20L)))
    // reduce on a full buffer: a larger key is a no-op, a tie on the
    // max key is decided by the id
    assert(agg.reduce(agg.merge(a, b), (5L, 0L)) == agg.merge(a, b))
    assert(agg.reduce(agg.merge(a, b), (2L, 5L)) ==
      Seq((0L, 99L), (1L, 10L), (2L, 5L)))
    // insert path below capacity keeps ascending order
    assert(agg.reduce(Seq((1L, 1L), (3L, 3L)), (2L, 2L)) ==
      Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("sourceCap keeps at most k per source, by hash order, exactly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 3 sources with 25/7/1 docs: caps bite only where |source| > k
    val docs = (0L until 33L).map { i =>
      val src = if (i < 25) "big" else if (i < 32) "mid" else "one"
      (i, s"doc text $i", src)
    }.toDF("doc_id", "text", "source").repartition(8)

    val kept = graft.operators.Curation.sourceCap(docs, maxPerSource = 5)
      .select("doc_id").as[Long].collect().toSet

    // reference: the row_number window twin over the same rank key
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(col("rk"), col("doc_id"))
    val want = docs
      .withColumn("rk", graft.operators.Curation.hashRank(col("text"), "graft"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select("doc_id").as[Long].collect().toSet

    assert(kept == want)
    assert(kept.count(_ < 25) == 5)  // big: capped at 5
    assert(kept.count(i => i >= 25 && i < 32) == 5) // mid: capped at 5
    assert(kept.contains(32L))       // singleton source always kept
  }
}
