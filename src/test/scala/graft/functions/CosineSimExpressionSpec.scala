package graft.functions

import graft.Tables
import graft.operators.VectorSearch
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The native `cosine_sim` expression must be bit-identical to the typed
  * `cosineArrays` kernel on every path — interpreted eval, whole-stage
  * codegen, real fixture embeddings — and mirror its degenerate-input
  * semantics (ragged/null-element -> NaN, null array -> null).
  */
class CosineSimExpressionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val sf = "/root/testdata/sf0.001"

  test("codegen'd SQL function is bit-identical to cosineArrays") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // distributed source (Range) so the projection runs inside
    // whole-stage codegen, not an eagerly-evaluated LocalTableScan
    val df = spark.range(500)
      .selectExpr(
        "array(cast(id AS FLOAT), cast(id % 7 AS FLOAT), cast(3 AS FLOAT)) AS a",
        "array(cast(id % 5 AS FLOAT), cast(2 AS FLOAT), cast(id AS FLOAT)) AS b")
      .selectExpr("a", "b", "cosine_sim(a, b) AS c")
    val planStr = df.queryExecution.executedPlan.toString
    val line = planStr.linesIterator.find(_.contains("cosine_sim")).get
    assert(line.trim.startsWith("*("), planStr) // fused into WSCG
    df.as[(Array[Float], Array[Float], Double)].collect().foreach {
      case (a, b, c) =>
        val want = VectorSearch.cosineArrays(a, b)
        assert(java.lang.Double.doubleToLongBits(c) ==
          java.lang.Double.doubleToLongBits(want), s"${a.toSeq}")
    }
  }

  test("fixture embeddings: expression equals the typed kernel") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf).limit(50)
    val a = emb.select($"vec_id".as("id1"), $"embedding".as("v1"))
    val b = emb.select($"vec_id".as("id2"), $"embedding".as("v2"))
    val got = a.join(b, $"id1" < $"id2")
      .select($"id1", $"id2", $"v1", $"v2",
        GraftFunctions.cosineSim($"v1", $"v2").as("c"))
      .as[(Long, Long, Array[Float], Array[Float], Double)]
      .collect()
    assert(got.length == 50 * 49 / 2)
    got.foreach { case (i1, i2, v1, v2, c) =>
      assert(java.lang.Double.doubleToLongBits(c) ==
        java.lang.Double.doubleToLongBits(VectorSearch.cosineArrays(v1, v2)),
        s"pair ($i1,$i2)")
    }
  }

  test("degenerate inputs: ragged/null-element -> NaN, null array -> null") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rows = Seq(
      (Some(Seq(Some(1f), Some(2f))), Some(Seq(Some(1f)))),          // ragged
      (Some(Seq(Some(1f), None)), Some(Seq(Some(1f), Some(2f)))),    // null elt
      (None, Some(Seq(Some(1f), Some(2f)))))                         // null arr
      .toDF("a", "b")
      .selectExpr("cosine_sim(a, b) AS c")
      .collect()
    assert(rows(0).getDouble(0).isNaN)
    assert(rows(1).getDouble(0).isNaN)
    assert(rows(2).isNullAt(0))
  }
}
