package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Closed-form checks for the TF-IDF / BM25 surface: tiny corpora where
  * every tf, df, rank and score is hand-computable. The q75/q76 oracle
  * rows prove cross-engine agreement at fixture scale; this spec pins the
  * formulas themselves (including the non-oracled ln-idf variant).
  */
class TfIdfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  // d1: "cat cat dog", d2: "cat fish", d3: "dog dog dog fish"
  //   df: cat=2 dog=2 fish=2 ; N=3
  def corpus = Seq(
    (1L, "cat cat dog"),
    (2L, "cat fish"),
    (3L, "dog dog dog fish")).toDF("doc_id", "text")

  test("termStats computes exact tf and df") {
    val rows = TfIdf.termStats(corpus)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(rows === Set(
      (1L, "cat", 2L, 2L), (1L, "dog", 1L, 2L),
      (2L, "cat", 1L, 2L), (2L, "fish", 1L, 2L),
      (3L, "dog", 3L, 2L), (3L, "fish", 1L, 2L)))
  }

  test("topTerms ranks by tf/df with term tie-break") {
    val top = TfIdf.topTerms(corpus, k = 1)
      .select("doc_id", "term", "rank")
      .as[(Long, String, Long)].collect().toSet
    // d1: cat 2/2=1.0 beats dog 0.5; d2: cat/fish tie 0.5 → 'cat' first;
    // d3: dog 1.5 beats fish 0.5
    assert(top === Set((1L, "cat", 1L), (2L, "cat", 1L), (3L, "dog", 1L)))
  }

  test("topTerms handles case, extra whitespace and empty docs") {
    val messy = Seq((1L, "  Cat   CAT  dog "), (2L, "   ")).toDF("doc_id", "text")
    val rows = TfIdf.topTerms(messy, k = 10)
      .select("doc_id", "term", "tf")
      .as[(Long, String, Long)].collect().toSet
    assert(rows === Set((1L, "cat", 2L), (1L, "dog", 1L)))
  }

  test("topTermsLogIdf matches tf * ln(N/df) closed-form") {
    val scores = TfIdf.topTermsLogIdf(corpus, k = 10)
      .select("doc_id", "term", "score")
      .as[(Long, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val ln15 = math.log(3.0 / 2.0)
    assert(scores((1L, "cat")) === 2.0 * ln15)
    assert(scores((3L, "dog")) === 3.0 * ln15)
    assert(scores((2L, "fish")) === 1.0 * ln15)
  }

  test("bm25 matches the closed-form rational-idf score") {
    // Same corpus; query {cat, dog}, k1=1.2 b=0.75.
    // N=3, dl: d1=3 d2=2 d3=4, total=9, avgdl=3.0
    val res = TfIdf.bm25(corpus, Seq("cat", "dog"), k = 3)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

    def contrib(tf: Long, df: Long, dl: Long): Double = {
      val n = 3.0; val k1 = 1.2; val b = 0.75; val avgdl = 9.0 / 3.0
      ((n - df + 0.5) / (df + 0.5)) *
        ((tf * (k1 + 1.0)) /
          (tf + k1 * ((1.0 - b) + b * (dl / avgdl))))
    }
    // built left-to-right in the fixed terms order, as bm25 documents
    val d1 = contrib(2, 2, 3) + contrib(1, 2, 3)  // cat + dog
    val d2 = contrib(1, 2, 2) + 0.0               // cat only
    val d3 = 0.0 + contrib(3, 2, 4)               // dog only
    assert(res(1L)._2 === d1)
    assert(res(2L)._2 === d2)
    assert(res(3L)._2 === d3)
    // ranking: d1 > d3 > d2 for these numbers
    assert(d1 > d3 && d3 > d2)
    assert(res(1L)._1 === 1L && res(3L)._1 === 2L && res(2L)._1 === 3L)
  }

  test("topTermsLogIdf construction triggers no Spark job (lazy N)") {
    // any job launched during construction would carry this job group;
    // the later count() job (default group) doubles as the fence proving
    // the status store has caught up past the construction window (the
    // listener bus is FIFO, so construction-time jobs would be visible
    // before the count's job is)
    val sc = spark.sparkContext
    sc.setJobGroup("tfidf-construct", "laziness probe")
    val df = TfIdf.topTermsLogIdf(corpus, k = 3)
    sc.setJobGroup("tfidf-fence", "post-construction fence")
    assert(df.count() > 0)
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup("tfidf-fence").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup("tfidf-fence").nonEmpty,
      "status store never caught up — fence job not visible")
    assert(sc.statusTracker.getJobIdsForGroup("tfidf-construct").isEmpty,
      "topTermsLogIdf ran a Spark job at plan-construction time")
  }

  test("bm25 limits to k and rejects an empty term bag") {
    assert(TfIdf.bm25(corpus, Seq("cat", "dog"), k = 2).count() === 2L)
    intercept[IllegalArgumentException] {
      TfIdf.bm25(corpus, Seq.empty, k = 1)
    }
  }
}
