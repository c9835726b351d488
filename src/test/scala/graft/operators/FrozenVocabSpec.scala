package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Drift gate for the frozen tokenizer artifacts: retrains both tables
  * on the sf0.01 fixture (the documented provenance of
  * [[FrozenVocab]]) and asserts literal equality. A regenerated fixture
  * thus surfaces as THIS failing test — with a regeneration hint —
  * rather than as an opaque q114/q148 oracle hash mismatch.
  */
class FrozenVocabSpec extends AnyFunSuite {

  private val fixture = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = Sessions.local(4)

  private def haveFixture: Boolean =
    new java.io.File(s"$fixture/documents.parquet").exists()

  test("frozen BPE merges == 40 merges retrained on the sf0.01 fixture") {
    assume(haveFixture, s"fixture $fixture not present")
    import spark.implicits._
    val docs = graft.Tables.documents(spark, fixture)
    val retrained = Bpe
      .trainMerges(docs.filter(col("doc_id") % 7 === 0), nMerges = 40)
      .select(col("rank").cast("int"), col("left"), col("right"))
      .as[(Int, String, String)].collect().sortBy(_._1)
      .map(t => (t._2, t._3)).toVector
    assert(retrained == FrozenVocab.bpeMerges,
      "frozen BPE merges drifted from the fixture — regenerate with " +
        "`runMain graft.FreezeVocab` and update FrozenVocab.scala")
  }

  test("frozen WordPiece vocabulary == 30 merges + alphabet retrained on sf0.01") {
    assume(haveFixture, s"fixture $fixture not present")
    val docs = graft.Tables.documents(spark, fixture)
    val merges = WordPiece.trainMerges(docs, nMerges = 30)
    val retrained = WordPiece.vocabulary(docs, merges).toSeq.sorted.toVector
    assert(retrained == FrozenVocab.wordPieceVocab,
      "frozen WordPiece vocabulary drifted from the fixture — regenerate " +
        "with `runMain graft.FreezeVocab` and update FrozenVocab.scala")
  }

  test("frozen Unigram piece table == q119 recipe retrained on sf0.01, " +
    "bit-exact logp") {
    assume(haveFixture, s"fixture $fixture not present")
    import spark.implicits._
    val docs = graft.Tables.documents(spark, fixture)
    val retrained = Unigram
      .train(docs.filter(col("doc_id") % 5 === 0), vocabSize = 120,
        iters = 2, maxPieceLen = 4, seedSize = 300)
      .as[(String, Double)].collect().sortBy(_._1).toVector
    // exact Double equality on purpose: the q150 oracle's DP compares
    // score sums bit-for-bit, so any drift in the 16th digit matters
    assert(retrained == FrozenVocab.unigramTable,
      "frozen Unigram table drifted from the fixture — regenerate with " +
        "`runMain graft.FreezeVocab` and update FrozenVocab.scala")
  }

  test("frozen Unigram table fits the q150 DP window: no piece longer than 4") {
    assert(FrozenVocab.unigramTable.forall(_._1.length <= 4),
      "UnigramEncodeSql's bounded DP frontier (b0..b3) assumes " +
        "maxPieceLen = 4; a longer frozen piece would be unreachable")
  }
}
