package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Drift gate for the frozen per-fixture k-means artifacts: retrains the
  * coarse quantizer and the PQ codebooks on each committed fixture (the
  * documented provenance of [[FrozenCentroids]]) and asserts bit-exact
  * literal equality. A regenerated fixture thus surfaces as THIS
  * failing test — with a regeneration hint — rather than as an opaque
  * q44/q85/q86/q108/q109/q137 oracle hash mismatch. Exact Double
  * equality is the point: the oracle SQL interpolates these literals
  * and relies on both parsers recovering identical IEEE-754 bits.
  */
class FrozenCentroidsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def fixture(sf: String) = s"/root/testdata/$sf"

  private def haveFixture(sf: String): Boolean =
    new java.io.File(s"${fixture(sf)}/embeddings.parquet").exists()

  for (sf <- Seq("sf0.01", "sf0.1")) {
    test(s"frozen $sf coarse16 == Ivf.trainCentroids(nList=16, iters=2) retrained") {
      assume(haveFixture(sf), s"fixture $sf not present")
      // raw single-split read: the frozen artifacts' documented
      // provenance is the deterministic scan order (see FreezeCentroids)
      val emb = graft.Tables.raw(spark, fixture(sf), "embeddings")
      val retrained = Ivf.trainCentroids(emb, nList = 16, iters = 2)
        .map(_.toVector).toVector
      assert(retrained == FrozenCentroids.coarse16BySf(sf),
        s"frozen $sf coarse centroids drifted from the fixture — regenerate " +
          "with `runMain graft.FreezeCentroids` and replace FrozenCentroids.scala")
    }

    test(s"frozen $sf pqCodebooks == Pq.trainCodebooks(m=8, ksub=16, iters=2) retrained") {
      assume(haveFixture(sf), s"fixture $sf not present")
      val emb = graft.Tables.raw(spark, fixture(sf), "embeddings")
      val cb = Pq.trainCodebooks(emb, m = 8, ksub = 16, iters = 2)
      val frozen = FrozenCentroids.pqCodebooksBySf(sf)
      assert(cb.m == frozen.size && cb.dsub == frozen.head.head.size,
        s"codebook shape drifted: m=${cb.m} dsub=${cb.dsub}")
      assert(cb.cents.map(_.map(_.toVector).toVector).toVector == frozen,
        s"frozen $sf PQ codebooks drifted from the fixture — regenerate " +
          "with `runMain graft.FreezeCentroids` and replace FrozenCentroids.scala")
    }
  }

  for (sf <- Seq("sf0.01", "sf0.1")) {
    test(s"frozen $sf PCA == Pca.fitTopK(k=4) retrained (bit-exact)") {
      assume(haveFixture(sf), s"fixture $sf not present")
      import org.apache.spark.sql.functions.col
      val emb = graft.Tables.raw(spark, fixture(sf), "embeddings")
      import spark.implicits._
      val rows = Pca.fitTopK(emb, k = 4)
        .select("comp_id", "eigenvalue", "vector", "mean")
        .as[(Int, Double, Seq[Double], Seq[Double])].collect().sortBy(_._1)
      assert(rows.head._4.toVector == FrozenCentroids.pcaMeanBySf(sf),
        s"frozen $sf PCA mean drifted — regenerate FrozenCentroids")
      assert(rows.map(r => (r._2, r._3.toVector)).toVector ==
        FrozenCentroids.pcaEigenBySf(sf),
        s"frozen $sf PCA eigenpairs drifted — regenerate FrozenCentroids")
    }
  }

  test("frozen apply-path equals the train-then-apply path on sf0.01") {
    assume(haveFixture("sf0.01"), "fixture sf0.01 not present")
    val d = fixture("sf0.01")
    val emb = graft.Tables.raw(spark, d, "embeddings")
    // ivfTopK(iters=2) trains exactly the frozen recipe, so the frozen
    // apply must reproduce it row-for-row — pins the refactor seam
    val trained = Ivf.ivfTopK(emb, queryIds = 0L to 4L, k = 3,
      nList = 16, nProbe = 4, iters = 2)
      .orderBy("query_id", "neighbor_id").collect().toSeq
    val frozen = Ivf.ivfTopKFrom(emb, FrozenCentroids.coarseFor(d).get,
      queryIds = 0L to 4L, k = 3, nProbe = 4)
      .orderBy("query_id", "neighbor_id").collect().toSeq
    assert(trained == frozen,
      "ivfTopKFrom(frozen) diverged from ivfTopK(trained) on the fixture")
  }

  test("unknown fixture dirs report no frozen artifact (live-training fallback)") {
    assert(FrozenCentroids.coarseFor("/tmp/nope/sf9").isEmpty)
    assert(FrozenCentroids.codebooksFor("/tmp/nope/sf9").isEmpty)
  }
}
