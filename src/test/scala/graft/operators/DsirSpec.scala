package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Closed-form pins for DSIR importance weighting: a two-doc corpus
  * whose smoothed unigram ratios are exact on paper, checking the
  * graded integer-micro surface and the real-ln weight's ranking
  * agreement (the property DSIR selection actually relies on).
  */
class DsirSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  // docs: d0 "a a b" (the target slice), d1 "c c b".
  // ct: a=2 b=1; cr: a=2 b=2 c=2; n_t=3 n_r=6 v=3.
  // lr_micro(tok) = 1e6*(cT+1)*9 div ((cR+1)*6) - 1e6:
  //   a: 27e6 div 18 - 1e6 = +500000
  //   b: 18e6 div 18 - 1e6 = 0
  //   c:  9e6 div 18 - 1e6 = -500000
  private def docs = {
    import spark.implicits._
    Seq((0L, "a a b", "en"), (1L, "c c b", "xx")).toDF("doc_id", "text", "lang")
  }

  test("integer micro weights: hand-computed ratios") {
    import spark.implicits._
    val got = Dsir.importanceWeights(docs,
        docs.filter(org.apache.spark.sql.functions.col("lang") === "en"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, 3L, 1000000L), (1L, 3L, -1000000L)))
  }

  test("ln weights rank identically and carry exact semantics") {
    import spark.implicits._
    val got = Dsir.logWeights(docs,
        docs.filter(org.apache.spark.sql.functions.col("lang") === "en"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // exact: log_w(d0) = 2*ln((3/6)/(3/9)) + ln((2/6)/(3/9)) = 2*ln(1.5)
    assert(math.abs(got(0L) - 2 * math.log(1.5)) < 1e-12)
    // d1: 2*ln(pT(c)/pR(c)) + 0 = 2*ln((1/6)/(1/3)) = 2*ln(0.5)
    // (the ln weight is NOT symmetric; only the linearized micro is)
    assert(math.abs(got(1L) - 2 * math.log(0.5)) < 1e-12)
    assert(got(0L) > got(1L)) // target-like ranks above
  }
}
