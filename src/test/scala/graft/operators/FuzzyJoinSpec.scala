package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The FastSS/SymSpell blocked edit-distance join must return EXACTLY
  * the brute-force pair set — blocking is a cost optimization with a
  * recall theorem, not a heuristic. The brute force here is an
  * independent DP levenshtein, not Spark's.
  */
class FuzzyJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  /** Textbook DP edit distance (insert/delete/substitute, unit cost). */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(
        math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  // planted neighborhood: per base word, a deletion, an insertion, a
  // substitution, a transposition (= distance 2 for plain levenshtein),
  // and unrelated far words — all edit kinds and lengths exercised
  private val words: Seq[(Long, String)] = {
    val bases = Seq("grafting", "spark", "shuffle", "parquet", "catalyst")
    val variants = bases.zipWithIndex.flatMap { case (w, k) =>
      Seq(
        w,
        w.substring(1),                                  // deletion
        w + "s",                                         // insertion
        "z" + w.substring(1),                            // substitution
        w.substring(0, w.length - 2) + w.takeRight(2).reverse, // transpose
        s"far${k}word$k")                                // unrelated
    }
    variants.distinct.zipWithIndex.map { case (w, i) => (i.toLong, w) }
  }

  private def expected(k: Int): Set[(Long, Long, Long)] =
    (for {
      (i1, s1) <- words; (i2, s2) <- words if i1 < i2
      d = lev(s1, s2) if d <= k
    } yield (i1, i2, d.toLong)).toSet

  test("deletionVariants has the right size and always contains s") {
    val v1 = FuzzyJoin.deletionVariants("abcd", 1)
    assert(v1 == Set("abcd", "bcd", "acd", "abd", "abc"))
    val v2 = FuzzyJoin.deletionVariants("abcd", 2)
    assert(v2.contains("abcd") && v2.contains("ab") && v2.contains("cd"))
    assert(v2.forall(_.length >= 2))
  }

  test("blocked join == brute force at maxDist 1 and 2") {
    import spark.implicits._
    val df = words.toDF("id", "s")
    for (k <- Seq(1, 2)) {
      val got = FuzzyJoin.editDistanceSelfJoin(df, "id", "s", k)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected(k), s"maxDist=$k")
    }
  }

  test("empty and null-safe") {
    import spark.implicits._
    val df = Seq((0L, "abc"), (1L, null.asInstanceOf[String]))
      .toDF("id", "s")
    val got = FuzzyJoin.editDistanceSelfJoin(df, "id", "s", 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.isEmpty) // "abc" vs "" is distance 3
  }
}
