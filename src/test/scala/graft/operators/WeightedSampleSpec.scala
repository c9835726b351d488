package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[Curation.weightedSample]] against a driver-side Efraimidis–Spirakis
  * reference with the identical LCG variates, plus the weight-bias
  * sanity property.
  */
class WeightedSampleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  private def key(id: Long, w: Double): Double =
    math.pow(((id * 48271L + 11L) % 2147483647L).toDouble / 2147483647.0,
      1.0 / w)

  test("distributed draw equals the sequential reference") {
    val rows = (0L until 300L).map(i =>
      (i, if (i % 3 == 0) "g1" else "g2", 10.0 + (i % 17)))
    val df = rows.toDF("doc_id", "grp", "w")
    val got = Curation.weightedSample(df, k = 7, groupCol = "grp",
      weightCol = "w", idCol = "doc_id")
      .as[(String, Long, Long)].collect().toSet
    val want = rows.groupBy(_._2).flatMap { case (g, xs) =>
      xs.map { case (id, _, w) => (id, key(id, w)) }
        .sortBy { case (id, k0) => (-k0, id) }
        .take(7).zipWithIndex
        .map { case ((id, _), i) => (g, id, (i + 1).toLong) }
    }.toSet
    assert(got == want)
  }

  test("heavier items are drawn preferentially") {
    // two weight tiers in one group: w=1000 vs w=1; with k = quarter of
    // the population, essentially all winners come from the heavy tier
    val rows = (0L until 400L).map(i =>
      (i, "g", if (i < 200) 1000.0 else 1.0))
    val winners = Curation.weightedSample(rows.toDF("doc_id", "grp", "w"),
      k = 100, groupCol = "grp", weightCol = "w", idCol = "doc_id")
      .as[(String, Long, Long)].collect().map(_._2)
    val heavy = winners.count(_ < 200)
    assert(heavy >= 95, s"only $heavy/100 winners from the heavy tier")
  }
}
