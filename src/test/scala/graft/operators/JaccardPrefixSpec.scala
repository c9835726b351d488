package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The prefix-filtered Jaccard join (AllPairs/PPJoin shape) must be
  * EXACT — identical output to the naive blocked all-pairs join — while
  * its candidate generation stays linear-ish on corpora where ubiquitous
  * words make the naive (block, word) self-join quadratic.
  */
class JaccardPrefixSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  /** docs schema jaccardPairs expects: doc_id, text, lang, n_chars. */
  private def docsDF(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", 50L) } // one block
      .toDF("doc_id", "text", "lang", "n_chars")
  }

  /** Reference implementation: per-pair word-set Jaccard in plain Scala. */
  private def naivePairs(texts: Seq[String], t: Double): Set[(Long, Long, Double)] = {
    val sets = texts.map(_.trim.split("\\s+").toSet)
    (for {
      i <- sets.indices; j <- sets.indices if i < j
      inter = sets(i).intersect(sets(j)).size
      union = sets(i).size + sets(j).size - inter
      jac = BigDecimal(inter.toDouble / union)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jac >= t
    } yield (i.toLong, j.toLong, jac)).toSet
  }

  /** Force-route helpers: volume -1 sends every block through the PPJoin
    * prefix path; Long.MaxValue sends every block through the naive
    * grouped-intersection path. Both must produce the identical result.
    */
  private val routes = Seq(
    "ppjoin" -> -1L, "naive" -> Long.MaxValue,
    "default" -> Dedup.DefaultNaiveBlockVolume)

  test("output is exactly the naive all-pairs result on BOTH routes") {
    import spark.implicits._
    // four near-dup families + shared stopwords + a lone outlier: pairs
    // above AND below threshold, ties in doc frequency, varied set sizes
    val texts = Seq(
      "the a quick brown fox jumps over lazy dog",
      "the a quick brown fox jumps over lazy cat",
      "the a quick brown fox leaps over lazy dog",
      "the a slow green turtle crawls under busy road",
      "the a slow green turtle crawls under busy street",
      "the a completely different document about spark engines",
      "unique singleton text sharing nothing with anything else")
    for ((route, vol) <- routes) {
      val got = Dedup.jaccardPairs(docsDF(texts), threshold = 0.5,
        naiveBlockVolume = vol)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == naivePairs(texts, 0.5), s"route=$route")
      assert(got.nonEmpty, s"route=$route") // family pairs must qualify
    }
  }

  test("hybrid routing splits blocks by volume without changing output") {
    import spark.implicits._
    // two (lang, blk) blocks with very different candidate volumes: the
    // dense block (tiny shared vocab) routes naive, the big one (shared
    // stopwords, otherwise unique) routes PPJoin under a limit that
    // separates them — and the union must equal the all-naive and
    // all-PPJoin results
    val dense = (0 until 8).map(i => s"alpha beta gamma w$i")      // blk 0
    val sparse = (0 until 60).map(i => s"the of and u${i}a u${i}b") // blk 1
    val docs = (dense.map((_, 50L)) ++ sparse.map((_, 150L)))
      .zipWithIndex
      .map { case ((t, nc), i) => (i.toLong, t, "en", nc) }
      .toDF("doc_id", "text", "lang", "n_chars")
    // dense vol = sum df^2 ~ 3*64 + 8 = 200; sparse vol = 3*3600 + 120
    val results = Seq(-1L, 2000L, Long.MaxValue).map { vol =>
      Dedup.jaccardPairs(docs, threshold = 0.5, naiveBlockVolume = vol)
        .as[(Long, Long, Double)].collect().toSet
    }
    assert(results(0) == results(1) && results(1) == results(2))
    assert(results(0).nonEmpty)
  }

  test("persisted intermediates are released after the first action") {
    val texts = Seq(
      "the a quick brown fox jumps over lazy dog",
      "the a quick brown fox jumps over lazy cat")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.jaccardPairs(docsDF(texts), threshold = 0.5).count()
    // the release listener runs on the async listener bus
    val deadline = System.nanoTime() + 10e9.toLong
    def leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leftover.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(leftover.isEmpty,
      s"cached intermediates survived the action: $leftover")
  }

  test("null and empty texts flow through every dedup family") {
    import spark.implicits._
    // shared corpus: a null-text doc, an empty doc, and two near-dups —
    // no family may NPE, and null must behave like the empty doc where
    // the family's tokenization says so (shingles(null) == shingles(""))
    val docs = Seq(
      (1L, null: String, "en", 0L),
      (2L, "", "en", 0L),
      (3L, "the quick brown fox jumps over the lazy dog", "en", 44L),
      (4L, "the quick brown fox jumps over the lazy cat", "en", 44L))
      .toDF("doc_id", "text", "lang", "n_chars")
    for ((route, vol) <- routes) {
      val jac = Dedup.jaccardPairs(docs, threshold = 0.5,
        naiveBlockVolume = vol)
        .as[(Long, Long, Double)].collect().toSet
      // null/empty emit no word tokens -> only the fox pair qualifies
      assert(jac.map(p => (p._1, p._2)) == Set((3L, 4L)), s"route=$route")
    }
    val mh = Dedup.minhashPairs(docs, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(mh.contains((1L, 2L, 1.0))) // shingles(null) == shingles("")
    val sh = Dedup.simhashPairs(docs, maxDist = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(sh.contains((1L, 2L))) // simhash(null) == simhash("")
    val exact = Dedup.dropExactDups(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(1L, 2L, 3L, 4L)) // null != "" under md5 <=>
  }

  test("ubiquitous words never enter the candidate join (linear, not quadratic)") {
    // every doc shares 3 stopwords; the rest of each doc is unique.
    // Naive (block, word) join: 3 * n*(n-1)/2 rows. Prefix join: the
    // stopwords are every doc's HIGHEST-df words, so no doc's rarest-half
    // prefix contains them -> zero candidates.
    val n = 200
    val texts = (0 until n).map(i =>
      s"the of and u${i}a u${i}b u${i}c u${i}d u${i}e")
    val cands = Dedup.jaccardCandidates(docsDF(texts), threshold = 0.5)
    assert(cands.count() == 0L,
      s"expected 0 prefix candidates, naive would emit ${3L * n * (n - 1) / 2} join rows")
    assert(Dedup.jaccardPairs(docsDF(texts), threshold = 0.5).count() == 0L)
  }

  test("trigram tokens: exact vs naive, short docs collapse to one token") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat",   // shares 6 of 7 grams
      "dog lazy the over jumps fox brown quick the",   // same words, reversed
      "tiny doc",                                      // < 3 words
      "tiny doc")                                      // exact dup of short doc
    def grams(t: String): Set[String] = {
      val w = t.trim.split("\\s+").toSeq
      if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet
      else Set(w.mkString(" "))
    }
    val expected = (for {
      i <- texts.indices; j <- texts.indices if i < j
      a = grams(texts(i)); b = grams(texts(j))
      inter = a.intersect(b).size
      jac = BigDecimal(inter.toDouble / (a.size + b.size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jac >= 0.5
    } yield (i.toLong, j.toLong, jac)).toSet
    val got = Dedup.jaccardPairs(docsDF(texts), threshold = 0.5, ngram = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expected)
    assert(got.contains((3L, 4L, 1.0))) // short-doc whole-text token
    assert(!got.exists(p => p._1 == 0L && p._2 == 2L)) // reversed != near-dup
  }

  test("randomized exactness across corpora and thresholds") {
    import spark.implicits._
    // seeded random corpora over a tiny vocabulary (maximal overlap
    // stress) swept over thresholds including awkward rationals like
    // 0.43, where a ceil'd float overlap bound once over-pruned a
    // boundary-exact true pair
    val rnd = new scala.util.Random(42)
    val vocab = ('a' to 'l').map(_.toString)
    val thresholds = Seq(0.3, 0.43, 0.5, 0.57, 0.66, 0.75)
    for (trial <- 1 to 8) {
      val n = 6 + rnd.nextInt(10)
      val texts = Seq.fill(n) {
        val k = 3 + rnd.nextInt(8)
        Seq.fill(k)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val t = thresholds(rnd.nextInt(thresholds.size))
      // alternate forced routes so the sweep exercises the PPJoin prefix
      // machinery AND the grouped-intersection path across trials
      val vol = if (trial % 2 == 0) -1L else Long.MaxValue
      val got = Dedup.jaccardPairs(docsDF(texts), threshold = t,
        naiveBlockVolume = vol)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == naivePairs(texts, t),
        s"trial $trial t=$t vol=$vol diff=${got.diff(naivePairs(texts, t))} " +
          s"missing=${naivePairs(texts, t).diff(got)} texts=$texts")
    }
  }

  test("candidates superset the qualifying pairs (no lost true pair)") {
    import spark.implicits._
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta",
      "alpha beta gamma delta epsilon eta",
      "alpha beta gamma delta theta iota",
      "kappa lambda mu nu xi omicron")
    val truth = naivePairs(texts, 0.5).map { case (a, b, _) => (a, b) }
    val cands = Dedup.jaccardCandidates(docsDF(texts), threshold = 0.5)
      .as[(Long, Long)].collect().toSet
    assert(truth.subsetOf(cands), s"lost true pairs: ${truth.diff(cands)}")
  }
}
