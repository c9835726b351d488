package graft.functions

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Misra–Gries guarantee checks: on randomized Zipf-ish streams, under
  * arbitrary reduce/merge splits (driver-simulated and via Spark's own
  * partial aggregation), every >n/k item is present and counters
  * underestimate by at most n/k. Content is NOT asserted equal across
  * splits — only the guarantees, which is the summary's contract.
  */
class MisraGriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def checkGuarantees(stream: Seq[String], k: Int,
      summary: Map[String, Long]): Unit = {
    val n = stream.size.toLong
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(summary.size <= k - 1, s"summary size ${summary.size} > ${k - 1}")
    exact.filter(_._2 > n / k).keys.foreach { w =>
      assert(summary.contains(w), s">n/k item '$w' missing")
    }
    summary.foreach { case (w, est) =>
      assert(est <= exact(w), s"'$w' overestimated: $est > ${exact(w)}")
      assert(exact(w) - est <= n / k,
        s"'$w' underestimated past n/k: $est vs ${exact(w)}")
    }
  }

  test("guarantees hold under random merge trees on skewed streams") {
    val rnd = new Random(42)
    val agg = MisraGriesAggregator(8)
    for (_ <- 1 to 20) {
      // Zipf-ish: item i has weight ~ 1/(i+1)
      val stream = rnd.shuffle(Seq.tabulate(30)(i =>
        Seq.fill(200 / (i + 1))(s"w$i")).flatten)
      // random split into chunks, reduce each, merge pairwise in order
      val chunks = stream.grouped(1 + rnd.nextInt(40)).toSeq
      val partials = chunks.map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = partials.reduce(agg.merge)
      checkGuarantees(stream, 8, merged)
    }
  }

  test("guarantees hold through Spark's partial aggregation") {
    import spark.implicits._
    val stream = Seq.tabulate(25)(i => Seq.fill(300 / (i + 1))(s"t$i")).flatten
    val ds = spark.createDataset(stream).repartition(7)
    val got = ds.select(MisraGriesAggregator(6).toColumn).head()
    checkGuarantees(stream, 6, got)
  }

  test("small streams are exact (no evictions ever triggered)") {
    val agg = MisraGriesAggregator(10)
    val stream = Seq("a", "b", "a", "c", "a", "b")
    val s = stream.foldLeft(agg.zero)(agg.reduce)
    assert(s == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }
}
