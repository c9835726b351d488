package graft.functions

import graft.util.Sessions
import java.text.Normalizer

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The native `nfc_normalize` expression must agree with
  * java.text.Normalizer on every path (interpreted eval, whole-stage
  * codegen, nulls) and fire inside a codegen'd project.
  */
class NfcNormalizeExpressionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  // decomposed é, decomposed Å (A + ring), Hangul jamo sequence,
  // already-NFC text, empty string, plain ASCII
  val vectors = Seq(
    "café", "Å", "각",
    "café", "", "plain ascii")

  test("registered SQL function matches java.text.Normalizer, under codegen") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val got = vectors.toDF("t")
      .selectExpr("t", "nfc_normalize(t) AS n")
      .as[(String, String)].collect().toMap
    vectors.foreach { v =>
      assert(got(v) == Normalizer.normalize(v, Normalizer.Form.NFC),
        s"vector ${v.map(_.toInt.toHexString)}")
    }

    // distributed source so the projection must run inside WSCG
    val nonEmpty = vectors.filter(_.nonEmpty)
    val arrSql = nonEmpty.map(w => s"'$w'").mkString("array(", ", ", ")")
    val df = spark.range(nonEmpty.size)
      .selectExpr(s"element_at($arrSql, cast(id AS INT) + 1) AS t")
      .selectExpr("t", "nfc_normalize(t) AS n")
    val planStr = df.queryExecution.executedPlan.toString
    val line = planStr.linesIterator.find(_.contains("nfc_normalize")).get
    assert(line.trim.startsWith("*("), planStr)
    val viaCodegen = df.as[(String, String)].collect().toMap
    nonEmpty.foreach { v =>
      assert(viaCodegen(v) == Normalizer.normalize(v, Normalizer.Form.NFC),
        s"codegen ${v.map(_.toInt.toHexString)}")
    }
  }

  test("already-normalized input returns the same UTF8String (no realloc)") {
    import org.apache.spark.unsafe.types.UTF8String
    val s = UTF8String.fromString("café plain")
    assert(NfcNormalizeExpression.nfcUTF8(s) eq s)
    val decomposed = UTF8String.fromString("café")
    assert(NfcNormalizeExpression.nfcUTF8(decomposed).toString == "café")
  }

  test("Column API and nulls") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val out = Seq(Some("Å"), None).toDF("t")
      .select(GraftFunctions.nfcNormalize($"t").as("n"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(out == Seq(Some("Å"), None))
  }

  test("normalizeText strips controls, collapses whitespace, composes") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val docs = Seq(
      (1L, "ab  cd café"),
      (2L, "  already clean  "),
      (3L, "")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.normalizeText(docs)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out(1L)._1 == "ab cd café")
    // original: 14 codepoints (BEL, VT and the combining acute count
    // as one each) -> "ab cd café" has 10; removed = 4
    assert(out(1L)._2 == (14L - 10L))
    assert(out(2L)._1 == "already clean")
    assert(out(3L)._1 == "")
  }
}
