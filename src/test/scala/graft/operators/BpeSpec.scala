package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** BPE training against a driver-side reference implementation of the
  * same algorithm (greedy left-to-right merge, lexicographic
  * tie-break), plus the paper's classic low/lower/newest/widest corpus
  * whose first merges are hand-checkable.
  */
class BpeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  /** Plain-Scala reference: identical formula, evaluated sequentially. */
  private def refMerges(words: Seq[String], n: Int): Seq[(String, String, Long)] = {
    var hist: Map[List[String], Long] = words
      .groupBy(identity).view
      .mapValues(_.size.toLong).toMap
      .map { case (w, f) => (w.map(_.toString).toList :+ Bpe.EndMark) -> f }
      .groupBy(_._1).view.mapValues(_.values.sum).toMap
    val out = Seq.newBuilder[(String, String, Long)]
    var k = 0
    var stop = false
    while (k < n && !stop) {
      val counts = hist.toSeq.flatMap { case (syms, f) =>
        syms.sliding(2).collect { case List(a, b) => ((a, b), f) }
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      if (counts.isEmpty) stop = true
      else {
        val ((l, r), c) = counts.toSeq
          .minBy { case ((a, b), cnt) => (-cnt, a, b) }
        out += ((l, r, c))
        hist = hist.toSeq.map { case (syms, f) =>
          Bpe.mergePair(syms.toArray, l, r).toList -> f
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        k += 1
      }
    }
    out.result()
  }

  private val corpus =
    (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")

  test("distributed merges equal the sequential reference") {
    val docs = Seq((1L, corpus)).toDF("doc_id", "text")
    val got = Bpe.trainMerges(docs, nMerges = 8)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
      .map { case (_, l, r, c) => (l, r, c) }
    val want = refMerges(corpus.split(" ").toSeq, 8)
    assert(got == want)
    // the paper's corpus: "es" (9 = 6 newest + 3 widest) merges first,
    // then "est", then "est</w>"
    assert(got.take(3) == Seq(("e", "s", 9L), ("es", "t", 9L),
      ("est", Bpe.EndMark, 9L)))
    // the shipped sequential reference (the q88 in-query oracle) must
    // itself match this spec's independent implementation
    val hist = corpus.split(" ").toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
    val seq = Bpe.sequentialMerges(hist, 8)
      .map { case (_, l, r, c) => (l, r, c) }
    assert(seq == want)
  }

  test("training is deterministic and segmentation round-trips") {
    val docs = Seq((1L, corpus)).toDF("doc_id", "text")
    val m1 = Bpe.trainMerges(docs, nMerges = 6)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    val m2 = Bpe.trainMerges(docs, nMerges = 6)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(m1 == m2)
    val table = m1.map { case (_, l, r, _) => (l, r) }
    // "newest" segments to [n, e, w, est</w>] once est+</w> merged
    val seg = Bpe.segment("newest", table)
    assert(seg.last.endsWith(Bpe.EndMark))
    assert(seg.mkString == "newest" + Bpe.EndMark)
    // frequent-word segmentations shrink toward whole-word units
    assert(seg.length < "newest".length + 1)
  }

  test("merge training exhausts gracefully on a tiny vocabulary") {
    val docs = Seq((1L, "aa aa")).toDF("doc_id", "text")
    // "aa" -> [a, a, </w>]: pairs (a,a) and (a,</w>) tie at count 2 and
    // the lexicographic tie-break picks (a, </w>) ('<' < 'a'); then
    // (a, a</w>) merges, every word is one symbol, and no pair remains
    // — training must stop at 2 merges, not run to nMerges
    val got = Bpe.trainMerges(docs, nMerges = 10)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map { case (_, l, r, _) => (l, r) } ==
      Seq(("a", Bpe.EndMark), ("a", "a" + Bpe.EndMark)))
    assert(got == refMerges(Seq("aa", "aa"), 10).zipWithIndex
      .map { case ((l, r, c), i) => (i, l, r, c) })
  }

  test("encodeDocs: per-word segment equality and lossless roundtrip") {
    import spark.implicits._
    val docs = Seq(
      (0L, "lower lowest low"),
      (1L, "  spaced   out  "),
      (2L, "")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, nMerges = 8)
    val table = merges.as[(Int, String, String, Long)].collect()
      .sortBy(_._1).map(t => (t._2, t._3)).toSeq
    val got = Bpe.encodeDocs(docs, merges)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // doc 0: subword stream == word-by-word driver-side segment()
    val want0 = "lower lowest low".split(" ")
      .map(w => Bpe.segment(w, table).mkString(" ")).mkString(" ")
    assert(got(0L)._4 == want0)
    assert(got(0L)._2 == 3L)
    assert(got(0L)._3 == want0.split(" ").length.toLong)
    // roundtrip: strip markers -> whitespace-normalized input
    for ((id, (_, _, _, sub)) <- got) {
      val back = sub.replace(" ", "").replace(Bpe.EndMark, " ").trim
      val norm = Seq("lower lowest low", "spaced out", "")(id.toInt)
      assert(back == norm, s"doc $id")
    }
    // empty doc: zero words, zero subwords
    assert(got(2L) == ((2L, 0L, 0L, "")))
  }

  test("engine has no in-band markers: U+0001/U+0002 and edge control chars segment fine") {
    import spark.implicits._
    // the BpeEncodeSql ORACLE wraps symbols in chr(1)/chr(2) and so
    // carries a documented text-free-of-U+0001/U+0002 precondition;
    // the ENGINE must have no such restriction — and edge control
    // chars must survive as token chars (SQL-trim parity, round 14)
    val docs = Seq(
      (0L, "ab cd"),
      (1L, "abc def")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(Seq((9L, "plain text")).toDF("doc_id", "text"), 4)
    val got = Bpe.encodeDocs(docs, merges)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(0L)._2 == 2L, "U+0001/U+0002 words tokenized")
    // stripSuffix, not Java trim: trim would strip the very control
    // chars this test exists to protect
    val back0 = got(0L)._4.replace(" ", "").replace(Bpe.EndMark, " ")
      .stripSuffix(" ")
    assert(back0 == "ab cd", "marker chars round-trip untouched")
    assert(got(1L)._2 == 2L)
    val back1 = got(1L)._4.replace(" ", "").replace(Bpe.EndMark, " ")
      .stripSuffix(" ")
    assert(back1 == "abc def",
      "edge control chars are token chars, not trimmed")
  }
}
