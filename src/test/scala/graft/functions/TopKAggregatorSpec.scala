package graft.functions

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TopKAggregatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  test("typed agg returns exact per-group top-k across partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = for {
      g <- 0L until 4L
      id <- 0L until 300L
    } yield (g, id, math.rint(rnd.nextDouble() * 100) / 10) // many ties
    val ds = rows.toDS().repartition(8)

    val k = 6
    val got = ds
      .groupByKey(_._1)
      .mapValues { case (_, id, s) => (id, s) }
      .agg(TopKAggregator(k).toColumn.name("topk"))
      .collect()
      .map { case (g, top) => g -> top }
      .toMap

    rows.groupBy(_._1).foreach { case (g, rws) =>
      val want = rws.map { case (_, id, s) => (id, s) }
        .sortBy { case (id, s) => (-s, id) }
        .take(k)
      assert(got(g) == want, s"group $g")
    }
  }

  test("non-positive k is rejected at construction") {
    intercept[IllegalArgumentException](TopKAggregator(0))
    intercept[IllegalArgumentException](TopKAggregator(-3))
  }

  test("buffer never exceeds k and merge is order-insensitive") {
    val agg = TopKAggregator(3)
    val a = Seq((1L, 9.0), (2L, 8.0), (3L, 7.0))
    val b = Seq((4L, 9.5), (5L, 1.0))
    assert(agg.merge(a, b) == agg.merge(b, a))
    assert(agg.merge(a, b).size == 3)
    assert(agg.merge(a, b).head == ((4L, 9.5)))
    // reduce keeps ties deterministic: equal score -> lower id wins
    val tied = agg.reduce(a, (0L, 7.0))
    assert(tied == Seq((1L, 9.0), (2L, 8.0), (0L, 7.0)))
  }
}
