package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Record-grammar kernels for the WARC parser: q156's oracle rows prove
  * cross-engine agreement at fixture scale; this pins the parts a hash
  * mismatch would localize poorly — the header/payload boundary (first
  * CRLF-CRLF only), truncation detection, and header-spoofing payloads.
  */
class WarcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  private def rec(payload: String, declaredLen: Long): String =
    "WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:uuid:x-1>\r\n" +
      "WARC-Target-URI: https://e.com/1\r\n" +
      s"Content-Length: $declaredLen\r\n\r\n" + payload

  private def parse1(record: String) = {
    val df = Seq((1L, record)).toDF("doc_id", "record")
    Warc.parseRecords(df).collect()(0)
  }

  test("well-formed record: fields, length check, payload digest") {
    val r = parse1(rec("hello world", 11))
    assert(r.getAs[String]("warc_type") == "response")
    assert(r.getAs[String]("record_id") == "urn:uuid:x-1")
    assert(r.getAs[String]("target_uri") == "https://e.com/1")
    assert(r.getAs[Long]("content_length") == 11)
    assert(r.getAs[Long]("payload_len") == 11)
    assert(r.getAs[Boolean]("len_ok"))
  }

  test("truncated record is flagged, not dropped") {
    val r = parse1(rec("short", 9999))
    assert(r.getAs[Long]("payload_len") == 5)
    assert(!r.getAs[Boolean]("len_ok"))
  }

  test("payload split is the FIRST blank line; later ones stay payload") {
    val r = parse1(rec("a\r\n\r\nb", 6))
    assert(r.getAs[Long]("payload_len") == 6)
    assert(r.getAs[Boolean]("len_ok"))
  }

  test("LF-only blank lines do not split the header") {
    // a malformed \n\n inside a header value must not truncate parsing
    val r = parse1(rec("x\n\ny", 4))
    assert(r.getAs[Long]("payload_len") == 4)
  }

  test("spoofed header text inside the payload does not win") {
    // header regexes match the FIRST occurrence — the real header
    // section — not a payload that embeds 'Content-Length: 1'
    val r = parse1(rec("Content-Length: 1", 17))
    assert(r.getAs[Long]("content_length") == 17)
    assert(r.getAs[Boolean]("len_ok"))
  }
}
