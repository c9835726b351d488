package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed kernels for the HTML extraction family: q154/q155's
  * oracle rows prove cross-engine agreement at fixture scale; this pins
  * the chain's order-sensitive parts (script removal BEFORE tag
  * stripping, `&amp;` decoded LAST, separator-not-empty tag
  * replacement) and the jusText-lite block classification boundaries on
  * documents small enough to verify by eye.
  */
class HtmlExtractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  private def text1(html: String): String = {
    val df = Seq((1L, html)).toDF("doc_id", "html")
    HtmlExtract.extractText(df).collect()(0).getAs[String]("clean_text")
  }

  test("script/style bodies with bare < > never leak into text") {
    assert(text1(
      "<p>a</p><script>if (1 < 2 && 3 > 2) bad();</script><p>b</p>") ==
      "a b")
    assert(text1("<style>p > a { x: 1; }</style><p>ok</p>") == "ok")
  }

  test("comments (multi-line) are dropped") {
    assert(text1("x<!-- one\n two -->y") == "x y")
  }

  test("tags become separators, not deletions") {
    // "</td><td>" gluing cells into one token is the classic bug
    assert(text1("<table><tr><td>a</td><td>b</td></tr></table>") == "a b")
  }

  test("entity decode order: &amp; last, unknown entities verbatim") {
    assert(text1("<p>&amp;lt; stays</p>") == "&lt; stays")
    assert(text1("<p>1 &lt; 2 &amp;&amp; 3 &gt; 2</p>") == "1 < 2 && 3 > 2")
    assert(text1("<p>&quot;q&quot; &#39;s&#39;&nbsp;z</p>") ==
      "\"q\" 's' z")
    assert(text1("<p>&copy; passes through</p>") == "&copy; passes through")
  }

  test("n_tokens: empty html is 0, not 1") {
    val df = Seq((1L, ""), (2L, "<br>"), (3L, "<p>two words</p>"))
      .toDF("doc_id", "html")
    val got = HtmlExtract.extractText(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 2L))
  }

  test("extractBlocks: link density and min-token boundaries") {
    // one doc, four blocks:
    //  b1 nav: 3 tokens all links -> density 1000‰, dropped
    //  b2 body: 4 tokens, 0 links -> kept
    //  b3 mixed: exactly at the 333‰ boundary with 1 link token of 3
    //     (1000·1 ≤ 333·3 = 999 is FALSE -> dropped; the boundary is
    //     strict by the integer cross-product)
    //  b4 short: 2 tokens -> below minTokens, dropped
    val html =
      """<div><a href="/">x</a> <a href="/">y</a> <a href="/">z</a></div>
         <p>keep these four words</p>
         <p><a href="/">one</a> two three</p>
         <p>too short</p>"""
    val df = Seq((7L, html)).toDF("doc_id", "html")
    val r = HtmlExtract.extractBlocks(df).collect()(0)
    assert(r.getAs[Long]("n_blocks") == 4)
    assert(r.getAs[Long]("n_kept") == 1)
    assert(r.getAs[Long]("n_dropped") == 3)
    assert(r.getAs[String]("clean_text") == "keep these four words")
  }

  test("extractBlocks: 333‰ boundary is inclusive from below") {
    // 1 link token of 4: 1000·1 ≤ 333·4 = 1332 -> kept
    val df = Seq((1L, "<p><a href=\"/\">one</a> two three four</p>"))
      .toDF("doc_id", "html")
    val r = HtmlExtract.extractBlocks(df).collect()(0)
    assert(r.getAs[Long]("n_kept") == 1)
    assert(r.getAs[String]("clean_text") == "one two three four")
  }

  test("extractBlocks: document order is preserved across many blocks") {
    val html = (1 to 9).map(i => s"<p>block $i has words</p>").mkString
    val df = Seq((1L, html)).toDF("doc_id", "html")
    val r = HtmlExtract.extractBlocks(df).collect()(0)
    assert(r.getAs[String]("clean_text") ==
      (1 to 9).map(i => s"block $i has words").mkString("\n"))
  }

  test("extractBlocks: a doc with nothing kept survives with empties") {
    val df = Seq((1L, "<p>tiny</p>"), (2L, "<p>these words all stay</p>"))
      .toDF("doc_id", "html")
    val got = HtmlExtract.extractBlocks(df)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    assert(got(1L) == ((1L, 0L, "")))
    assert(got(2L) == ((1L, 1L, "these words all stay")))
  }

  test("nested inline tags inside an anchor still count as link text") {
    // <a><b>x</b> y</a>: 2 link tokens of 3 total -> 2000 > 999, dropped
    val df = Seq(
      (1L, "<p><a href=\"/\"><b>x</b> y</a> z</p>")).toDF("doc_id", "html")
    val r = HtmlExtract.extractBlocks(df).collect()(0)
    assert(r.getAs[Long]("n_kept") == 0)
  }
}
