package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** PII redaction and corpus vocabulary semantics. */
class PiiVocabSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import scala.jdk.CollectionConverters._

  private def redactOne(text: String): (Long, Long, Long, String) = {
    import spark.implicits._
    val r = Curation.redactPii(Seq((1L, text)).toDF("doc_id", "text"))
      .collect().head
    (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
  }

  test("emails, IPv4s and phone numbers redact to typed placeholders") {
    val (ne, ni, np, red) = redactOne(
      "mail a.b+c@sub.example.org or admin@x.io, host 192.168.0.1, " +
        "call +1(555)123-4567 now")
    assert(ne == 2L && ni == 1L && np == 1L)
    assert(red == "mail <EMAIL> or <EMAIL>, host <IP>, call <PHONE> now")
  }

  test("clean text passes through untouched with zero counts") {
    val (ne, ni, np, red) = redactOne("just ordinary words 12.5 percent")
    assert(ne == 0L && ni == 0L && np == 0L)
    assert(red == "just ordinary words 12.5 percent")
  }

  test("phone requires leading + and >= 9 digits; IPs never match it") {
    // bare digit runs and IPs must not be eaten by the phone pattern
    val (_, ni, np, red) = redactOne("id 123456789 at 10.0.0.7 +12 +123456789")
    assert(np == 1L && ni == 1L)
    assert(red == "id 123456789 at <IP> +12 <PHONE>")
  }

  test("counts reconcile with placeholders: no phantom IP inside an email") {
    // the email redaction consumes '1.2.3.4' before the IP stage counts,
    // so n_ip must be 0 — counting on the original text would report an
    // <IP> the redacted output provably does not contain
    val (ne, ni, np, red) = redactOne("mail a@1.2.3.4.com today")
    assert(ne == 1L && ni == 0L && np == 0L)
    assert(red == "mail <EMAIL> today")
  }

  test("tokenDf counts each token once per doc, ties broken by token") {
    import spark.implicits._
    val docs = Seq(
      (1L, "b b b a c"), // b counts once here
      (2L, "b a"),
      (3L, "c")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenDf(docs, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // df: a=2, b=2, c=2 — all tied; token order cuts (a, b)
    assert(got.toSeq == Seq(("a", 2L), ("b", 2L)))
  }
}
