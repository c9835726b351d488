package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** WordPiece training (likelihood-gain argmax, ## continuations) and
  * max-munch runtime, pinned against hand computations and the
  * sequential reference.
  */
class WordPieceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  test("symbols and mergedName follow the ## convention") {
    assert(WordPiece.symbols("hug").toSeq == Seq("h", "##u", "##g"))
    assert(WordPiece.symbols("a").toSeq == Seq("a"))
    assert(WordPiece.mergedName("h", "##u") == "hu")
    assert(WordPiece.mergedName("##u", "##g") == "##ug")
  }

  test("hand-computed first merge: the score, not the raw count, wins") {
    // corpus: "aab" x10, "ac" x10  — pairs: (a,##a) c=10, (##a,##b) c=10,
    // (a,##c) c=10; symbol counts: a=30 (2 per aab + 1 per ac...) wait:
    // aab -> a ##a ##b (a:1, ##a:1, ##b:1), ac -> a ##c.
    // counts: a=20, ##a=10, ##b=10, ##c=10.
    // scores: (a,##a)=10/(20*10)=0.05, (##a,##b)=10/(10*10)=0.1,
    //         (a,##c)=10/(20*10)=0.05.
    // BPE (raw count) would tie all three and pick (##a,##b) only by
    // accident of lexicographic order — here the SCORE uniquely selects
    // (##a,##b), and the lexicographic tiebreak then picks (a,##a) over
    // (a,##c) in round 2.
    val hist = Seq(("aab", 10L), ("ac", 10L))
    val got = WordPiece.sequentialMerges(hist, 2)
    assert(got.head._2 == "##a" && got.head._3 == "##b")
    assert(got.head._4 == "##ab" && got.head._5 == 10L)
    assert(got(1)._2 == "a" && got(1)._3 == "##ab")
  }

  test("distributed training equals the sequential reference") {
    val words = Seq("low", "lower", "lowest", "low", "low", "newer",
      "newest", "wide", "wider", "widest", "new", "new")
    val docs = words.grouped(3).map(_.mkString(" ")).toSeq
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = WordPiece.trainMerges(docs, nMerges = 8)
      .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    val hist = words.groupBy(identity).view
      .mapValues(_.size.toLong).toSeq
    val want = WordPiece.sequentialMerges(hist, 8)
    assert(got == want)
  }

  test("max-munch segmentation: longest vocabulary match at each position") {
    val vocab = Set("un", "##aff", "##able", "##ably", "##a", "##ff",
      "u", "##n", "a", "b", "l", "e", "f", "y", "##b", "##l", "##e", "##y")
    assert(WordPiece.segment("unaffable", vocab).toSeq ==
      Seq("un", "##aff", "##able"))
    // greedy prefers ##ably over ##able+##y? "unaffably": after ##aff,
    // the longest match is ##ably
    assert(WordPiece.segment("unaffably", vocab).toSeq ==
      Seq("un", "##aff", "##ably"))
    // a character with no vocabulary entry -> [UNK] for the whole word
    assert(WordPiece.segment("unafxable", vocab).toSeq == Seq(WordPiece.Unk))
  }

  test("encodeDocs round-trips and counts [UNK] correctly") {
    val docs = Seq((0L, "low lower"), (1L, "newer wide"), (2L, "zzz low"))
      .toDF("doc_id", "text")
    val train = docs.filter($"doc_id" < 2) // 'z' never trained
    val merges = WordPiece.trainMerges(train, nMerges = 5)
    val vocab = WordPiece.vocabulary(train, merges)
    val enc = WordPiece.encodeDocs(docs, vocab)
      .as[(Long, Long, Long, Long, String)].collect()
      .sortBy(_._1)
    assert(enc(0)._4 == 0L && enc(1)._4 == 0L) // no UNK on trained docs
    assert(enc(2)._4 == 1L) // zzz -> [UNK]
    // roundtrip on the UNK-free docs
    enc.filter(_._4 == 0L).foreach { case (id, nw, ns, _, st) =>
      val orig = docs.filter($"doc_id" === id).as[(Long, String)]
        .head()._2.trim.split("\\s+").mkString(" ")
      assert(st.replace(" ##", "") == orig)
      assert(ns >= nw)
    }
    // every emitted token is a vocabulary unit
    enc.filter(_._4 == 0L).flatMap(_._5.split(" ")).foreach { t =>
      assert(vocab.contains(t), s"token $t not in vocabulary")
    }
  }
}
