package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Closed-form pins for the Stupid Backoff bigram LM: a hand corpus
  * small enough to evaluate the formula on paper, covering the
  * seen-bigram branch, the unigram-backoff branch, and the unseen-token
  * floor — for BOTH the graded integer-micro surface and the real-ln
  * variant (which the q112 oracle can't grade; see NgramLm doc).
  */
class NgramLmSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  // train "a b a b c": bigrams (a,b)=2, (b,a)=1, (b,c)=1; unigrams
  // a=2 b=2 c=1, N=5
  private def train = {
    import spark.implicits._
    Seq((100L, "a b a b c")).toDF("doc_id", "text")
  }

  test("integer micro score: hand-computed branches") {
    import spark.implicits._
    // "a b x c": (a,b) seen -> 1e6*2 div 2 = 1000000; (b,x) unseen
    // bigram, unseen w2 -> 0; (x,c) unseen bigram, c(c)=1 ->
    // 400000*1 div 5 = 80000. sum 1080000, mean 1080000 div 3 = 360000
    val docs = Seq((0L, "a b x c"), (1L, "a"), (2L, "")).toDF("doc_id", "text")
    val got = NgramLm.stupidBackoffScore(docs, train)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 3L, 1080000L, 360000L),
      (1L, 0L, 0L, 0L), // single token: no transitions, kept at 0
      (2L, 0L, 0L, 0L)))
  }

  test("ln variant: hand-computed branches") {
    import spark.implicits._
    val docs = Seq((0L, "a b x c")).toDF("doc_id", "text")
    val got = NgramLm.stupidBackoffLogScore(docs, train)
      .as[(Long, Double)].collect().toMap
    // ln(2/2) + ln(0.4*1/5) + ln(0.4*1/5), over 3
    val want = (math.log(1.0) + 2 * math.log(0.4 / 5)) / 3
    assert(math.abs(got(0L) - want) < 1e-12)
  }

  test("training-set docs score higher than held-out noise") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b c"), // the training text itself
      (1L, "z y x w v")  // all unseen
    ).toDF("doc_id", "text")
    val got = NgramLm.stupidBackoffScore(docs, train)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    assert(got(0L) > got(1L))
    assert(got(1L) == 0L)
  }

  test("perplexityBuckets: per-group quantile cut, >= at both boundaries") {
    import spark.implicits._
    // five en docs with scores 0 < s1 < s2 < s3 < s4 (distinct by
    // construction): q25 over {s0..s4} = s1, q75 = s3 exactly (index
    // (5-1)*q integral), so buckets are tail,middle*?,head with the
    // boundary docs landing INCLUSIVE (s1 -> middle, s3 -> head). A
    // null-lang doc must vanish (no threshold group), not crash.
    val docs = Seq(
      (0L, "z y x w", "en"),      // all-unseen: 0 -> tail
      (1L, "c a b", "en"),        // backoff-heavy -> between
      (2L, "a b x c", "en"),      // the 360000 hand case
      (3L, "a b c", "en"),        // seen + backoff
      (4L, "a b a b", "en"),      // all-seen: 1000000 -> head
      (5L, "a b a b", null)       // null group: dropped
    ).toDF("doc_id", "text", "lang")
    val got = NgramLm.perplexityBuckets(docs, train)
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert(got.size == 5 && !got.contains(5L))
    assert(got(0L) == "tail")
    assert(got(4L) == "head")
    // exactly one head+boundary pair each side: the q25 doc is middle,
    // the q75 doc is head (inclusive >=)
    val scores = NgramLm.stupidBackoffScore(
      docs.filter($"lang".isNotNull), train)
      .select("doc_id", "mean_p_micro").as[(Long, Long)].collect().toMap
    val sorted = scores.toSeq.sortBy(_._2).map(_._1)
    assert(got(sorted(1)) == "middle") // the 25th-percentile doc itself
    assert(got(sorted(3)) == "head")   // the 75th-percentile doc itself
    assert(got(sorted(2)) == "middle")
  }
}
