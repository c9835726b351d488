package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** HistogramSketch invariants: the one-bin value-error bound, range
  * clamping, and exactness when values sit on bin edges.
  */
class HistogramSketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  test("estimates sit within one bin width of the exact quantile") {
    import spark.implicits._
    // 1..10000 uniform: exact permille quantiles are q*10
    val df = (1 to 10000).map(_.toDouble).toDF("v")
    val out = HistogramSketch
      .quantiles(df, "v", lo = 0.0, hi = 10000.0, nBins = 100,
        qsPermille = Seq(100, 250, 500, 900, 999))
      .orderBy("q_permille")
      .as[(Int, Long, Double)].collect()
    out.foreach { case (q, _, est) =>
      val exact = q * 10.0
      assert(math.abs(est - exact) <= 100.0, s"q=$q est=$est exact=$exact")
    }
  }

  test("out-of-range values clamp into the edge bins") {
    import spark.implicits._
    val df = Seq(-50.0, -1.0, 5.0, 10.0, 99.0, 250.0, 1e9).toDF("v")
    val out = HistogramSketch
      .quantiles(df, "v", lo = 0.0, hi = 100.0, nBins = 10,
        qsPermille = Seq(1000))
      .as[(Int, Long, Double)].collect()
    // the max (1e9) clamps to the last bin, not an out-of-range bin
    assert(out.head._2 == 9L)
  }

  test("median of an edge-aligned distribution is exact") {
    import spark.implicits._
    // values exactly on bin lower edges: est == exact
    val df = Seq.fill(10)(0.0).zipWithIndex.map { case (_, i) => i * 10.0 }
      .toDF("v")
    val out = HistogramSketch
      .quantiles(df, "v", lo = 0.0, hi = 100.0, nBins = 10,
        qsPermille = Seq(500))
      .as[(Int, Long, Double)].collect()
    // ceil(10*0.5)=5th value in bin order → bin 4, edge 40.0
    assert(out.head._3 == 40.0)
  }
}
