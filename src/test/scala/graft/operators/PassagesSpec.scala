package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed kernels for passage-level dedup: the q80/q81 oracle rows
  * prove cross-engine agreement at fixture scale; this pins the span
  * arithmetic (interval union of overlapping grams, chunk boundaries,
  * all-dropped and short-doc edges) on a corpus small enough to verify
  * by eye.
  */
class PassagesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  test("duplicatePassageStats counts spans and their interval union") {
    // docs 1 and 2 share the 3-gram "a b c" twice over (positions 0 and
    // 1 of doc 1 overlap: "a b c" at 0, "b c a" is unshared, but doc 1 =
    // "a b c d e" and doc 2 = "x a b c d" share "a b c" AND "b c d":
    // doc 1 dup positions {0, 1} cover tokens {0..3} -> 4 covered.
    // doc 2 dup positions {1, 2} cover tokens {1..4} -> 4 covered.
    // doc 3 is unrelated; doc 4 is too short for any 3-gram.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d"),
      (3L, "p q r s"),
      (4L, "u v")).toDF("doc_id", "text")
    val got = Passages.duplicatePassageStats(docs, n = 3)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got(1L) == ((5L, 3L, 2L, 4L, 800L)))
    assert(got(2L) == ((5L, 3L, 2L, 4L, 800L)))
    assert(got(3L) == ((4L, 2L, 0L, 0L, 0L)))
    assert(got(4L) == ((2L, 0L, 0L, 0L, 0L)))
  }

  test("dedupChunks drops cross-doc boilerplate, keeps intra-doc repeats") {
    // width=2 chunks; "b1 b2" is shared by docs 1 and 2 -> dropped from
    // both; doc 3 repeats its own chunk "r r" twice (1 distinct doc) ->
    // kept; doc 4 is ONLY boilerplate -> survives with empty clean_text.
    val docs = Seq(
      (1L, "b1 b2 u1 u2"),
      (2L, "v1 v2 b1 b2 v3"),
      (3L, "r r r r"),
      (4L, "b1 b2")).toDF("doc_id", "text")
    val got = Passages.dedupChunks(docs, width = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((2L, 1L, "u1 u2")))
    assert(got(2L) == ((3L, 2L, "v1 v2 v3")))
    assert(got(3L) == ((2L, 2L, "r r r r")))
    assert(got(4L) == ((1L, 0L, "")))
  }

  test("removeDuplicateSpans cuts exactly the covered positions") {
    // same corpus as the stats test: doc 1 dup positions {0,1} cover
    // tokens 0..3 -> keeps only "e"; doc 2 dup positions {1,2} cover
    // tokens 1..4 -> keeps only "x"; docs 3/4 untouched.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d"),
      (3L, "p q r s"),
      (4L, "u v")).toDF("doc_id", "text")
    val got = Passages.removeDuplicateSpans(docs, n = 3)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((5L, 1L, 4L, "e")))
    assert(got(2L) == ((5L, 1L, 4L, "x")))
    assert(got(3L) == ((4L, 4L, 0L, "p q r s")))
    assert(got(4L) == ((2L, 2L, 0L, "u v")))
  }

  test("removeDuplicateSpans: fully-duplicated doc keeps empty text; " +
    "reassembly is numeric past one digit of position") {
    val words = (0 until 24).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "dup dup dup"),
      (2L, "dup dup dup"),
      (3L, words)).toDF("doc_id", "text")
    val got = Passages.removeDuplicateSpans(docs, n = 3)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._3, r._5))).toMap
    assert(got(1L) == ((0L, "")))
    assert(got(2L) == ((0L, "")))
    assert(got(3L) == ((24L, words)))
  }

  test("dedupChunks chunk order survives reassembly past one digit of idx") {
    // 24 chunks of width 1 — sort_array on struct(idx, chunk) must sort
    // numerically (idx is an int), not lexicographically ("10" < "2").
    val words = (0 until 24).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, words), (2L, "zzz")).toDF("doc_id", "text")
    val got = Passages.dedupChunks(docs, width = 1)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(got(1L) == words)
  }

  test("dropDuplicateSentences: first occurrence by (doc_id, pos) wins, " +
    "normalization collapses case/whitespace, reassembly keeps order") {
    // doc 1: "Hello world. Bye now." — both first occurrences, kept.
    // doc 2 repeats "hello   WORLD" (same normalized sentence, later
    //   doc) plus a fresh sentence -> 1 dropped, 1 kept.
    // doc 3 repeats its own sentence within the doc -> the pos-0 copy
    //   is kept, the pos-1 copy dropped (within-doc dedup).
    // doc 4: terminators only -> zero sentences, empty clean_text.
    val docs = Seq(
      (1L, "Hello world. Bye now."),
      (2L, "hello   WORLD! Fresh one?"),
      (3L, "same thing. same thing."),
      (4L, "..!!??")).toDF("doc_id", "text")
    val got = Passages.dropDuplicateSentences(docs)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((2L, 2L, 0L, "hello world. bye now")))
    assert(got(2L) == ((2L, 1L, 1L, "fresh one")))
    assert(got(3L) == ((2L, 1L, 1L, "same thing")))
    assert(got(4L) == ((0L, 0L, 0L, "")))
  }

  test("sourceOverlapMatrix counts DISTINCT shared grams per source pair, " +
    "ignoring within-source and within-doc repeats") {
    // s1 and s2 share exactly the gram "a b c d e"; s2 and s3 share
    // exactly "b c d e f"; s1-s3 share nothing. Doc 5 repeats doc 2's
    // grams WITHIN s2 — distinct-per-source must not inflate any pair.
    val docs = Seq(
      (1L, "a b c d e", "s1"),
      (2L, "a b c d e f", "s2"),
      (3L, "b c d e f g", "s3"),
      (4L, "z y x w v", "s3"),
      (5L, "a b c d e f", "s2")).toDF("doc_id", "text", "source")
    val got = Passages.sourceOverlapMatrix(docs)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("s1", "s2", 1L), ("s2", "s3", 1L)))
  }
}
