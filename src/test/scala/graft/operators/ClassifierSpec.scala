package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Classifier checks: the hashing-trick featurizer's closed forms, and
  * training on linearly separable token data must reach perfect
  * training accuracy with sensible per-token weight signs.
  */
class ClassifierSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  test("hashFeatures: L1-normalized counts, deterministic ids, empty docs") {
    val f = Classifier.hashFeatures("a b a", dim = 64)
    assert(math.abs(f.map(_._2).sum - 1.0) <= 1e-12)
    assert(f.length == 2) // 'a' and 'b' (no collision at dim 64 for these)
    assert(f.toSeq == Classifier.hashFeatures("a b a", 64).toSeq)
    assert(Classifier.hashFeatures("   ", 64).isEmpty)
    assert(Classifier.hashFeatures(null, 64).isEmpty)
  }

  test("training separates planted good/bad token distributions") {
    // good docs say "useful clean prose", bad docs say "spam junk noise"
    val docs = (0 until 60).map { i =>
      if (i % 2 == 0) (i.toLong, "useful clean prose text here", 1.0)
      else (i.toLong, "spam junk noise garbage here", 0.0)
    }.toDF("doc_id", "text", "label")
    val w = Classifier.train(docs, dim = 512, iters = 40, lr = 4.0)
    val scored = Classifier.score(docs, w)
      .as[(Long, Double)].collect().toMap
    (0 until 60).foreach { i =>
      val p = scored(i.toLong)
      if (i % 2 == 0) assert(p > 0.5, s"doc $i (good) scored $p")
      else assert(p < 0.5, s"doc $i (bad) scored $p")
    }
    // the planted tokens' weights carry the right signs
    def wOf(tok: String): Double = {
      val Array((id, _)) = Classifier.hashFeatures(tok, 512)
      w(id)
    }
    assert(wOf("useful") > 0 && wOf("clean") > 0)
    assert(wOf("spam") < 0 && wOf("junk") < 0)
    // shared token "here" stays near zero relative to the signal tokens
    assert(math.abs(wOf("here")) < wOf("useful"))
  }

  test("scoreQuantized: exact BIGINT margin matches the closed form") {
    // uniform weights make the margin independent of WHICH hashed ids
    // the tokens land on: z_q = bias + (#distinct tokens) * w
    val dim = 64
    val scale = 1000000000000L
    val wq = Array.fill(dim + 1)(250000000000L) // w = 0.25, bias = 0.25
    val docs = Seq(
      (1L, "a b c"),    // 3 distinct -> z = 0.25*3 + 0.25 = 1.0
      (2L, "a a a"),    // 1 distinct -> z = 0.5
      (3L, "")          // no tokens  -> z = bias = 0.25
    ).toDF("doc_id", "text")
    val got = Classifier.scoreQuantized(docs, wq, scale)
      .as[(Long, Double)].collect().toMap
    def sig(z: Double) = 1.0 / (1.0 + math.exp(-z))
    assert(got(1L) == sig(1.0))
    assert(got(2L) == sig(0.5))
    assert(got(3L) == sig(0.25))
    // determinism across partitionings
    val got8 = Classifier.scoreQuantized(docs.repartition(8), wq, scale)
      .as[(Long, Double)].collect().toMap
    assert(got8 == got)
  }
}
