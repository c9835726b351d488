package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Drift gate for the frozen q99 classifier checkpoint: retrains the
  * exact q99 recipe on each committed fixture and asserts the result
  * lands within [[FrozenClassifier.DriftTolerance]] quantized units of
  * the committed artifact — tolerance, not bit equality, because the
  * float gradient `treeAggregate` reduce order can drift by ulps run
  * to run (unlike the driver-deterministic Lloyd loop behind
  * `FrozenCentroidsSpec`). A recipe change thus surfaces as THIS
  * failing test — with a regeneration hint — rather than as an opaque
  * q99 oracle hash mismatch. Also re-pins the two facts the q99
  * promotion rests on: frozen-quantized scoring agrees with live float
  * scoring on every thresholded prediction, and no frozen-scored
  * `p·10^6` sits near a .5 rounding boundary (the cross-engine `exp`
  * ulp-safety audit `ClassifierSql` cites).
  */
class FrozenClassifierSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def fixture(sf: String) = s"/root/testdata/$sf"

  private def haveFixture(sf: String): Boolean =
    new java.io.File(s"${fixture(sf)}/documents.parquet").exists()

  private def labeled(sf: String) =
    graft.Tables.documents(spark, fixture(sf))
      .withColumn("label",
        array_contains(split(trim(col("text")), "\\s+"), "spark")
          .cast("double"))

  for (sf <- Seq("sf0.01", "sf0.1")) {
    test(s"frozen $sf weights within DriftTolerance of a live retrain") {
      assume(haveFixture(sf), s"fixture $sf not present")
      val w = Classifier.train(labeled(sf), dim = FrozenClassifier.Dim,
        iters = 60, lr = 2.0, binary = true)
      val frozen = FrozenClassifier.weightsQFor(fixture(sf)).get
      val drift = w.zipWithIndex.map { case (x, i) =>
        math.abs(math.rint(x * FrozenClassifier.Scale).toLong - frozen(i))
      }.max
      assert(drift <= FrozenClassifier.DriftTolerance,
        s"frozen $sf classifier drifted $drift quantized units from a " +
          "live retrain — regenerate with `runMain " +
          "graft.FreezeClassifierWeights` and replace FrozenClassifier.scala")
    }
  }

  test("sf0.01: frozen-quantized scoring agrees with live float scoring " +
    "on every thresholded prediction, and all p clear the boundary audit") {
    assume(haveFixture("sf0.01"), "fixture sf0.01 not present")
    import spark.implicits._
    val docs = labeled("sf0.01")
    val wq = FrozenClassifier.weightsQFor(fixture("sf0.01")).get
    val quantized = Classifier
      .scoreQuantized(docs, wq, FrozenClassifier.Scale)
      .as[(Long, Double)].collect().toMap
    // float path from the DE-quantized frozen weights: same model, so
    // thresholded predictions must agree doc for doc
    val wFloat = wq.map(_.toDouble / FrozenClassifier.Scale)
    val float = Classifier.score(docs, wFloat, binary = true)
      .as[(Long, Double)].collect().toMap
    assert(quantized.keySet == float.keySet)
    quantized.foreach { case (id, p) =>
      assert((p > 0.5) == (float(id) > 0.5), s"prediction flip at doc $id")
      assert(math.abs(p - float(id)) <= 1e-9, s"score drift at doc $id")
    }
    // the ClassifierSql ulp-safety audit: nearest p*1e6 to a .5
    // rounding boundary (committed value 6.2e-3 units at freeze time;
    // assert a conservative floor far above cross-engine exp ulps)
    val minBoundary = quantized.values.map { p =>
      val u = p * 1e6
      math.abs(u - math.floor(u) - 0.5)
    }.min
    assert(minBoundary >= 1e-4,
      f"frozen-scored p sits $minBoundary%.2e 1e-6-units from a rounding " +
        "boundary — re-audit ClassifierSql's round-6 safety margin")
  }
}
