package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The two-phase distributed top-k must be exactly equivalent to a local
  * full sort by (score desc, id asc) — including tie groups that span
  * partition boundaries.
  */
class VectorSearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  test("topKPerQuery equals local sort, with cross-partition ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // many exact ties (scores quantized to 1dp) across 8 input partitions
    val rows = for {
      q <- 0L until 5L
      id <- 0L until 400L
    } yield (q, id, math.rint(rnd.nextDouble() * 10) / 10)
    val scored = rows.toDF("query_id", "neighbor_id", "cos_sim")
      .repartition(8)

    val k = 7
    val got = VectorSearch.topKPerQuery(scored, k)
      .as[(Long, Long, Double, Int)].collect()
      .sortBy(t => (t._1, t._4))

    val expected = rows
      .groupBy(_._1)
      .toSeq
      .flatMap { case (q, g) =>
        g.sortBy { case (_, id, s) => (-s, id) }
          .take(k)
          .zipWithIndex
          .map { case ((_, id, s), i) => (q, id, s, i + 1) }
      }
      .sortBy(t => (t._1, t._4))

    assert(got.toSeq == expected)
  }

  test("srpSignatureArray is bit-identical to the Column/HOF formulation") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val planes = VectorSearch.hyperplanes(nBits = 6, dim = 8, seed = 123L)
    // includes a NaN-poisoned vector: Spark SQL orders NaN above all
    // doubles so the Column `>= 0` sets every bit — the typed loop must
    // reproduce that, not the JVM's NaN-comparisons-are-false
    val vecs = (0 until 200).map(i =>
      Array.tabulate(8)(j => (((i * 31 + j * 17) % 13) - 6).toFloat / 3f)) :+
      Array(1f, Float.NaN, 2f, 3f, 4f, 5f, 6f, 7f)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
    // the pre-typed-loop Column formulation, reconstructed: the typed
    // path replaced it for speed and must never drift from its buckets
    def dotC(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val colSig = planes.zipWithIndex.map { case (p, i) =>
      when(dotC(col("vec"), array(p.toIndexedSeq.map(lit): _*)) >= 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val expected = df.select(col("id"), colSig.as("sig"))
      .as[(Long, Long)].collect().toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      assert(VectorSearch.srpSignatureArray(v, planes) == expected(i.toLong),
        s"vec $i")
    }
  }

  test("cosineTopK ranks self-excluded neighbours by rounded cosine") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f)),
      (1L, Array(1f, 0.01f)),
      (2L, Array(0f, 1f)),
      (3L, Array(-1f, 0f)),
      (4L, Array(0.9f, 0.1f)),
      (5L, Array(0f, 0f))) // zero norm: cosine undefined, row dropped
    val df = vecs.toDF("vec_id", "embedding")
    val out = VectorSearch.cosineTopK(df, queryIds = Seq(0L), k = 2)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(out.map(_._2).toSeq == Seq(1L, 4L)) // most-aligned first
    assert(out.map(_._4).toSeq == Seq(1, 2))
    assert(out.forall(_._3 <= 1.0))
  }

  test("srpTopK: recall vs exact is monotone in table count") {
    import spark.implicits._
    // table 0's hyperplanes are seed-stable, so candidates(t tables) ⊆
    // candidates(t+1 tables); a true top-k neighbor can only be
    // displaced by a strictly better candidate — which is itself in the
    // exact top-k — so recall never decreases as tables grow
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 300L)
      .map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val exact = VectorSearch.cosineTopK(vecs, queryIds = 0L to 4L, k = 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recalls = Seq(1, 4, 12).map { t =>
      val got = VectorSearch.srpTopK(vecs, queryIds = 0L to 4L, k = 5,
        nBits = 4, dim = 16, tables = t)
        .select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      (exact & got).size
    }
    assert(recalls == recalls.sorted, s"recall not monotone: $recalls")
    assert(recalls.last > recalls.head,
      s"extra tables bought no recall on this seeded set: $recalls")
  }
}
