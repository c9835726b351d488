package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Closed-form checks for the unigram-LM quality score: a reference
  * corpus small enough that every count, smoothed hit and score is
  * hand-computable. The q79 oracle row proves cross-engine agreement
  * at fixture scale; this pins the formulas, including the non-oracled
  * ln variant (lmLogScore).
  */
class LmScoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  // reference: "a a b" -> c(a)=2, c(b)=1, T=3, V=2, T+V=5
  def ref = Seq((100L, "a a b")).toDF("doc_id", "text")

  def docs = Seq(
    (1L, "a b"),   // sh = (2+1)+(1+1) = 5, n=2 -> 5/10 = 0.5
    (2L, "z z"),   // sh = 1+1 = 2,          n=2 -> 2/10 = 0.2
    (3L, "  a  "), // sh = 3,                n=1 -> 3/5  = 0.6
    (4L, "   ")    // no tokens -> absent
  ).toDF("doc_id", "text")

  test("lmScore matches the closed-form smoothed-mean probability") {
    val got = TextAnalysis.lmScore(docs, ref)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((2L, 5L, 0.5)))
    assert(got(2L) == ((2L, 2L, 0.2)))
    assert(got(3L) == ((1L, 3L, 0.6)))
  }

  test("unseen-token floor: a doc of unknown words scores 1/(T+V)") {
    val got = TextAnalysis.lmScore(docs, ref)
      .filter($"doc_id" === 2L)
      .select("lm_score").as[Double].head()
    assert(got == 1.0 / 5.0)
  }

  test("lmLogScore matches mean ln p closed-form") {
    val got = TextAnalysis.lmLogScore(docs, ref)
      .as[(Long, Double)].collect().toMap
    val eps = 1e-12
    assert(math.abs(got(1L) - (math.log(3.0 / 5) + math.log(2.0 / 5)) / 2) < eps)
    assert(math.abs(got(2L) - math.log(1.0 / 5)) < eps)
    assert(math.abs(got(3L) - math.log(3.0 / 5)) < eps)
  }

  test("construction is lazy: no Spark job until an action") {
    val sc = spark.sparkContext
    sc.setJobGroup("lm-construct", "laziness probe")
    val df = TextAnalysis.lmScore(docs, ref)
    sc.setJobGroup("lm-fence", "post-construction fence")
    assert(df.count() == 3)
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup("lm-fence").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup("lm-fence").nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup("lm-construct").isEmpty,
      "lmScore ran a Spark job at plan-construction time")
  }
}
