package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Kernel closed forms + the distributed==sequential pin for
  * [[Unigram]] (the q88/BPE verification device): Viterbi optimality
  * against brute-force enumeration, coverage on unseen chars, and the
  * full distributed EM loop equal to [[Unigram.sequentialTrain]] on
  * the collected histogram.
  */
class UnigramSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  /** All segmentations of `w` into pieces present in `logp` (chars
    * allowed via unk), scored — the brute-force Viterbi oracle.
    */
  private def allSegs(w: String, logp: Map[String, Double], maxL: Int,
      unk: Double): Seq[(List[String], Double)] = {
    if (w.isEmpty) return Seq((Nil, 0.0))
    for {
      l <- 1 to math.min(maxL, w.length)
      piece = w.take(l)
      lp <- logp.get(piece).orElse(if (l == 1) Some(unk) else None).toSeq
      (rest, s) <- allSegs(w.drop(l), logp, maxL, unk)
    } yield (piece :: rest, lp + s)
  }

  test("segmentWord finds a max-probability segmentation (brute force)") {
    val logp = Map("ab" -> -1.0, "b" -> -2.0, "a" -> -2.5, "c" -> -3.0,
      "abc" -> -2.9, "bc" -> -1.2)
    for (w <- Seq("abc", "ab", "cab", "abcabc", "b", "ccc")) {
      val got = Unigram.segmentWord(w, logp, 3)
      val score = got.map(p => logp.getOrElse(p, -1e3)).sum
      val best = allSegs(w, logp, 3, -1e3).map(_._2).max
      assert(got.mkString("") == w, s"lossless on $w")
      assert(math.abs(score - best) < 1e-12, s"optimal on $w: $got")
    }
  }

  test("ties prefer the longer piece; unseen chars fall back to unk") {
    // "ab" scores the same as "a"+"b": longer piece must win
    val logp = Map("ab" -> -4.0, "a" -> -2.0, "b" -> -2.0)
    assert(Unigram.segmentWord("ab", logp, 2) == List("ab"))
    // "xy" has no table entries at all — char fallback still covers
    assert(Unigram.segmentWord("xy", logp, 2) == List("x", "y"))
  }

  test("distributed train == sequentialTrain on the collected histogram") {
    val docs = Seq(
      "the cat sat on the mat", "the cats sat", "a cat and a mat",
      "mats and cats and rats", "the rat sat on the cat").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val table = Unigram.train(docs, vocabSize = 30, iters = 3,
      maxPieceLen = 4, seedSize = 50)
      .as[(String, Double)].collect().toMap
    val hist = Unigram.wordHistogram(docs).as[(String, Long)].collect().toSeq
    val ref = Unigram.sequentialTrain(hist, 30, 3, 4, 50)
    assert(table == ref)
    // multi-char pieces actually emerged
    assert(table.keys.exists(_.length > 1))
  }

  test("encodeDocs is lossless and counts pieces consistently") {
    val docs = Seq((0L, "aa ab aab"), (1L, ""), (2L, "  a  ")).toDF("doc_id", "text")
    val table = Seq(("a", -1.0), ("b", -1.5), ("aa", -1.2)).toDF("piece", "logp")
    val got = Unigram.encodeDocs(docs, table, maxPieceLen = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 3L, 5L, "aa a b aa b"), // aa | a b | aa b
      (1L, 0L, 0L, ""),
      (2L, 1L, 1L, "a")))
  }
}
