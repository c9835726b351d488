package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[VectorSearch.hardNegatives]]: label exclusion, parity with a
  * driver-side brute force, and the boundary property that makes the
  * negatives "hard" (each negative outranks every unreturned
  * different-label vector).
  */
class HardNegativesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  // deterministic 8-dim vectors, 3 labels
  private def fixture = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0L until 60L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat), (i % 3).toInt)
    }
    (rows, rows.toDF("vec_id", "embedding", "label"))
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
    }
    BigDecimal(d / math.sqrt(na * nb))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("matches brute force; negatives never share the query's label") {
    val (rows, df) = fixture
    val qids = Seq(0L, 1L, 2L)
    val got = VectorSearch.hardNegatives(df, qids, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq
    val byId = rows.map(r => r._1 -> r).toMap
    qids.foreach { q =>
      val (_, qv, ql) = byId(q)
      val expect = rows.filter(_._3 != ql)
        .map { case (id, v, _) => (id, cos(qv, v)) }
        .sortBy { case (id, s) => (-s, id) }
        .take(4)
      val mine = got.filter(_._1 == q).sortBy(_._4)
        .map(r => (r._2, r._3))
      assert(mine == expect, s"query $q")
      mine.foreach { case (id, _) => assert(byId(id)._3 != ql) }
    }
  }

  test("k larger than the negative pool returns the whole pool") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0f, 1f), 1), (3L, Array(0.1f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = VectorSearch.hardNegatives(df, Seq(0L), k = 10)
      .collect()
    assert(got.length == 2)
    assert(got.map(_.getLong(1)).toSet == Set(2L, 3L))
  }
}
