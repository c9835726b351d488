package graft.operators

import graft.util.Sessions
import graft.{SparkEntry, Tables}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** q51 carries no cross-engine oracle (Spark's Greenwald-Khanna sketch vs
  * DuckDB's t-digest differ by design); its correctness evidence is this
  * bound: at accuracy 1000 the sketch must sit within 1/1000 rank error
  * of the exact sort-based percentile, per the GK guarantee.
  */
class ApproxPercentileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val sf = "/root/testdata/sf0.001"

  test("q51 sketch percentiles are within GK rank-error of exact") {
    import spark.implicits._
    // q51 now interleaves in-query property-check booleans with the
    // estimates; select the estimate columns explicitly (ordinal tuple
    // binding over the raw output would silently shift)
    val approx = SparkEntry.queries("q51_approx_percentile")(spark, sf)
      .select("l_returnflag", "l_quantity_p50_approx",
        "l_quantity_p90_approx", "l_extendedprice_p25_approx")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap

    val qty = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity")
      .as[(String, Double)].collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).sorted }
    val price = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice")
      .as[(String, Double)].collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).sorted }

    // GK with accuracy a: returned value's rank within n/a of target rank
    def rankWindow(sorted: Array[Double], p: Double, got: Double): Boolean = {
      val n = sorted.length
      val target = p * (n - 1)
      val slack = n.toDouble / 1000 + 1
      val lo = math.max(0, math.floor(target - slack).toInt)
      val hi = math.min(n - 1, math.ceil(target + slack).toInt)
      got >= sorted(lo) && got <= sorted(hi)
    }

    approx.foreach { case (flag, (med, p90, p25)) =>
      assert(rankWindow(qty(flag), 0.5, med), s"$flag median")
      assert(rankWindow(qty(flag), 0.9, p90), s"$flag p90")
      assert(rankWindow(price(flag), 0.25, p25), s"$flag p25")
    }
    assert(approx.nonEmpty)
  }
}
