package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis
import graft.util.Sessions

/** The native `rolling_fingerprint` expression must agree BIT-FOR-BIT
  * with [[TextAnalysis.fingerprintOf]] on every path — the ASCII
  * byte-scan fast path, the non-ASCII `toString` fallback (where UTF-8
  * byte count diverges from UTF-16 code-unit count), the short-string
  * sentinel — and fire inside a codegen'd projection.
  */
class RollingFingerprintExpressionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  // ASCII (fast path), exactly-K, K-1 (sentinel), empty, non-ASCII
  // (fallback: é is 2 UTF-8 bytes / 1 UTF-16 unit), mixed, long ASCII
  val vectors = Seq(
    "the quick brown fox jumps over the lazy dog",
    "exactly8", "seven77", "",
    "café au lait, s'il vous plaît",
    "ascii then café then ascii again",
    ("wxyz" * 64) + " tail words differ")

  test("matches fingerprintOf bit-for-bit, under codegen") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val got = vectors.toDF("t")
      .selectExpr("t", "rolling_fingerprint(t) AS fp")
      .as[(String, Long)].collect().toMap
    vectors.foreach { v =>
      assert(got(v) == TextAnalysis.fingerprintOf(v), s"vector '$v'")
    }

    // distributed source so the projection must run inside WSCG
    val nonEmpty = vectors.filter(_.nonEmpty).map(_.replace("'", ""))
    val arrSql = nonEmpty.map(w => s"'$w'").mkString("array(", ", ", ")")
    val df = spark.range(nonEmpty.size)
      .selectExpr(s"element_at($arrSql, cast(id AS INT) + 1) AS t")
      .selectExpr("t", "rolling_fingerprint(t) AS fp")
    val planStr = df.queryExecution.executedPlan.toString
    val line = planStr.linesIterator
      .find(_.contains("rolling_fingerprint")).get
    assert(line.trim.startsWith("*("), planStr)
    val viaCodegen = df.as[(String, Long)].collect().toMap
    nonEmpty.foreach { v =>
      assert(viaCodegen(v) == TextAnalysis.fingerprintOf(v), s"codegen '$v'")
    }
  }

  test("null stays null; short strings get the 0 sentinel") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val got = Seq((1L, null: String), (2L, "short"), (3L, ""))
      .toDF("id", "t")
      .selectExpr("id", "rolling_fingerprint(t) AS fp")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(1L).isEmpty)
    assert(got(2L).contains(0L))
    assert(got(3L).contains(0L))
  }

  test("randomized ASCII/non-ASCII parity sweep vs the reference kernel") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val texts = (0 until 200).map { _ =>
      val n = rnd.nextInt(40)
      (0 until n).map { _ =>
        val r = rnd.nextInt(30)
        if (r < 26) ('a' + r).toChar
        else if (r < 28) ' '
        else if (r == 28) 'é'
        else '文'
      }.mkString
    }.distinct
    val got = texts.toDF("t")
      .selectExpr("t", "rolling_fingerprint(t) AS fp")
      .as[(String, Long)].collect().toMap
    texts.foreach { v =>
      assert(got(v) == TextAnalysis.fingerprintOf(v),
        s"parity broke on '${v.take(40)}'")
    }
  }
}
