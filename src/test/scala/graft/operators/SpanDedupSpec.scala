package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Hand-checked cases for [[TextAnalysis.dropRepeatedNgrams]] and a
  * brute-force reference over random docs.
  */
class SpanDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  /** Driver-side reference: same semantics, plain Scala. */
  private def reference(text: String, n: Int): (Long, Long, String) = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    val seen = collection.mutable.Set.empty[String]
    val rep = Array.fill(toks.length)(false)
    for (i <- 0 to toks.length - n) {
      val gram = toks.slice(i, i + n).mkString(" ")
      if (seen.contains(gram)) rep(i) = true else seen += gram
    }
    val covered = toks.indices.map { p =>
      (math.max(0, p - (n - 1)) to p).exists(s => s <= toks.length - n && rep(s))
    }
    val kept = toks.indices.filterNot(covered).map(toks)
    (toks.length.toLong, kept.length.toLong, kept.mkString(" "))
  }

  test("hand case: repeated bigram span dropped, first kept") {
    // "a b c a b d": bigram "a b" repeats at pos 3 -> tokens 3,4 covered
    val df = Seq((0L, "a b c a b d")).toDF("doc_id", "text")
    val got = TextAnalysis.dropRepeatedNgrams(df, n = 2)
      .as[(Long, Long, Long, String)].head()
    assert(got == ((0L, 6L, 4L, "a b c d")))
    assert(reference("a b c a b d", 2) == ((6L, 4L, "a b c d")))
  }

  test("no repeats -> document unchanged; short docs survive whole") {
    val df = Seq((0L, "x y z w"), (1L, "solo"), (2L, "p q")).toDF("doc_id", "text")
    val got = TextAnalysis.dropRepeatedNgrams(df, n = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (0L, 4L, 4L, "x y z w"), (1L, 1L, 1L, "solo"), (2L, 2L, 2L, "p q")))
  }

  test("matches the driver-side reference on random docs (n=2 and n=3)") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (0L until 40L).map { i =>
      (i, Seq.fill(5 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    for (n <- Seq(2, 3)) {
      val got = TextAnalysis.dropRepeatedNgrams(df, n = n)
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      for ((id, text) <- docs)
        assert(got(id) == reference(text, n), s"doc $id n=$n")
    }
  }
}
