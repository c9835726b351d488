package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Aho–Corasick keyword tagging: the textbook automaton cases
  * (suffix-output chains, overlaps, phrases), the DataFrame contract,
  * and the border-free == replace()-count equivalence (a property of
  * border-free dictionaries; q141's position-probing oracle itself
  * covers ANY dictionary, borderful included).
  */
class KeywordTagSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def counts(dict: Seq[String], text: String): Map[String, Long] = {
    val a = KeywordTag.Automaton.build(dict)
    a.keywords.zip(a.countMatches(text)).filter(_._2 > 0).toMap
  }

  test("classic he/she/his/hers chain on 'ushers'") {
    // matches: she@1-3, he@2-3 (suffix of she), hers@2-5
    assert(counts(Seq("he", "she", "his", "hers"), "ushers") ==
      Map("she" -> 1L, "he" -> 1L, "hers" -> 1L))
  }

  test("every end position counts: overlapping self-matches") {
    assert(counts(Seq("aa"), "aaaa") == Map("aa" -> 3L))
    assert(counts(Seq("aba"), "ababa") == Map("aba" -> 2L))
  }

  test("substrings inside words and multi-word phrases") {
    assert(counts(Seq("art", "key order"), "the part key order artist") ==
      Map("art" -> 2L, "key order" -> 1L))
  }

  test("border-free keywords: automaton count == greedy replace count") {
    val dict = Seq("spark", "join", "stream", "art", "key order", "agg")
    val texts = Seq(
      "spark join sparkjoin artart key order key order agg",
      "join join join", "aggagg stream art", "no hits here", "")
    texts.foreach { t =>
      val got = counts(dict, t)
      dict.foreach { k =>
        val greedy = (t.length - t.replace(k, "").length).toLong / k.length
        assert(got.getOrElse(k, 0L) == greedy,
          s"keyword '$k' in '$t': ac=${got.getOrElse(k, 0L)} greedy=$greedy")
      }
    }
  }

  test("tag: lowercases text, drops null text, emits only hits") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Seq((1L, "SPARK and Art"), (2L, null.asInstanceOf[String]),
      (3L, "nothing")).toDF("doc_id", "text")
    val got = KeywordTag.tag(docs, Seq("spark", "art"))
      .as[(Long, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq((1L, "art", 1L), (1L, "spark", 1L)))
  }

  test("tag: case-distinct keywords fold to one dictionary entry") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Seq((1L, "art ART Art")).toDF("doc_id", "text")
    val got = KeywordTag.tag(docs, Seq("Art", "art"))
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "art", 3L)))
  }

  test("dictionary fold is locale-independent (Turkish-I regression)") {
    val spark0 = spark
    import spark0.implicits._
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
    try {
      // under tr_TR, "TITLE".toLowerCase == "tıtle" (dotless ı) and
      // would never match Spark's locale-independent lower(); the
      // Locale.ROOT fold must keep the dictionary aligned
      val docs = Seq((1L, "the title row")).toDF("doc_id", "text")
      val got = KeywordTag.tag(docs, Seq("TITLE"))
        .as[(Long, String, Long)].collect().toSeq
      assert(got == Seq((1L, "title", 1L)))
    } finally java.util.Locale.setDefault(prev)
  }

  test("dictionary hygiene: empty/duplicate keywords rejected") {
    intercept[IllegalArgumentException](KeywordTag.Automaton.build(Nil))
    intercept[IllegalArgumentException](
      KeywordTag.Automaton.build(Seq("a", "")))
    intercept[IllegalArgumentException](
      KeywordTag.Automaton.build(Seq("a", "a")))
  }
}
