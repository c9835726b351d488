package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[Pca]] kernels against closed forms: moments vs a driver-side
  * computation, the eigensolver on a hand-diagonalizable matrix, and
  * projection variance == eigenvalue on planted anisotropic data.
  */
class PcaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  test("moments equal the driver-side sums exactly") {
    val vecs = Seq(
      (0L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, -1.0f)), (2L, Seq(0.5f, 0.5f)))
    val df = vecs.toDF("vec_id", "embedding")
    val (n, s, g) = Pca.moments(df)
    assert(n == 3)
    val xs = vecs.map(_._2.map(_.toDouble))
    for (i <- 0 until 2) {
      assert(math.abs(s(i) - xs.map(_(i)).sum) < 1e-12)
      for (j <- 0 until 2)
        assert(math.abs(g(i * 2 + j) - xs.map(v => v(i) * v(j)).sum) < 1e-12)
    }
  }

  test("topEigen diagonalizes a known symmetric matrix") {
    // C = [[2,1],[1,2]]: eigenpairs (3, [1,1]/sqrt2), (1, [1,-1]/sqrt2)
    val c = Array(2.0, 1.0, 1.0, 2.0)
    val eig = Pca.topEigen(c, d = 2, k = 2)
    assert(math.abs(eig(0)._1 - 3.0) < 1e-9)
    assert(math.abs(eig(1)._1 - 1.0) < 1e-9)
    val v0 = eig(0)._2
    assert(math.abs(math.abs(v0(0)) - math.sqrt(0.5)) < 1e-6)
    assert(math.abs(v0(0) - v0(1)) < 1e-6) // same sign, equal components
    val v1 = eig(1)._2
    assert(math.abs(v1(0) + v1(1)) < 1e-6) // antisymmetric
  }

  test("projection variance equals the eigenvalue on anisotropic data") {
    // x_i = (t, 2t) for t in a symmetric grid: rank-1 covariance along
    // (1,2)/sqrt5 with eigenvalue var(t)*5
    val ts = (-10 to 10).map(_.toDouble)
    val df = ts.zipWithIndex
      .map { case (t, i) => (i.toLong, Seq(t.toFloat, (2 * t).toFloat)) }
      .toDF("vec_id", "embedding")
    val comps = Pca.fitTopK(df, k = 1)
    val (lam, v) = comps.select("eigenvalue", "vector")
      .as[(Double, Seq[Double])].head()
    val varT = ts.map(t => t * t).sum / ts.size
    assert(math.abs(lam - varT * 5) < 1e-6)
    assert(math.abs(math.abs(v(1) / v(0)) - 2.0) < 1e-6)
    val proj = Pca.project(df, comps)
    val meanSq = proj.agg(org.apache.spark.sql.functions.avg(
      org.apache.spark.sql.functions.col("pc0") *
        org.apache.spark.sql.functions.col("pc0"))).as[Double].head()
    assert(math.abs(meanSq - lam) < 1e-9)
  }
}
