package graftbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Seeded input generators. Every value is a pure function of (seed,
  * stream, index), so one seed gives byte-identical inputs whatever the
  * task schedule, and the program under test only ever sees the lines.
  *
  * Every DIRT corpus carries the planted closed-form families of the
  * q40 construction (twins score exactly 1.0, disjoint pairs 0.0,
  * partial pairs strictly inside (0, 1)), with seed-salted fillers, so
  * each workload's answer can be checked exactly at any size.
  */
object Gen {

  // ------------------------------------------------------------ hashing

  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed ^ mix(stream)) + i)

  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  /** Seed-chosen bijection on [0, n): i -> (a·i + b) mod n, gcd(a, n) = 1.
    * Used to permute line order and document ids by seed.
    */
  final case class Perm(n: Long, a: Long, b: Long) {
    def apply(i: Long): Long = Math.floorMod(a * i + b, n)
  }

  def perm(n: Long, seed: Long, stream: Long): Perm = {
    require(n > 0 && n < (1L << 31), s"permutation domain out of range: $n")
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    var a = Math.floorMod(hash(seed, stream, 0), n) max 1L
    while (n > 1 && gcd(a, n) != 1L) a = a % (n - 1) + 1
    Perm(n, a, Math.floorMod(hash(seed, stream, 1), n))
  }

  /** Seed salt appended to generated words. It ends in a digit, so the
    * Porter stemmer leaves every salted word unchanged.
    */
  def salt(seed: Long): String =
    "s" + (100000 + Math.floorMod(hash(seed, 7, 0), 900000L))

  // ------------------------------------------------- planted families

  val FillersPerPath = 8
  val LinesPerGroup = 3 * FillersPerPath * 2

  private def cnt(j: Int): Int = 1 + (j % 3)

  def biarc(v: String, x: String, prep: String, y: String, c: Int): String =
    s"$v\t$x/NNS/nsubj/2 $v/VBP/ROOT/0 $prep/IN/prep/2 $y/NN/pobj/3\t$c"

  /** Line `idx` of the planted construction over `groups` groups
    * (twin, disjoint and partial family per group, 48 lines per group).
    * `group(k)` maps the local group number to the global one.
    */
  def plantedLine(idx: Long, groups: Int, group: Int => Int,
      s: String): String = {
    val fp = FillersPerPath
    val prep = if (idx % 2 == 0) "from" else "of"
    val j = ((idx / 2) % fp).toInt
    val k = group(((idx / (2 * fp)) % groups).toInt)
    (idx / (2L * fp * groups)).toInt match {
      case 0 => biarc(s"vtw$k", s"a${k}x$j$s", prep, s"b${k}y$j$s", cnt(j))
      case 1 => biarc(s"vdj$k", s"d$prep${k}x$j$s", prep,
        s"e$prep${k}y$j$s", cnt(j))
      case _ =>
        if (j < fp / 2) biarc(s"vpt$k", s"p${k}x$j$s", prep, s"q${k}y$j$s", cnt(j))
        else biarc(s"vpt$k", s"p$prep${k}x$j$s", prep, s"q$prep${k}y$j$s",
          cnt(j))
    }
  }

  def plantedTestSet(groups: Seq[Int]): Seq[String] =
    groups.map(k => s"X vtw$k from Y\tX vtw$k of Y") ++
      groups.map(k => s"X vdj$k from Y\tX vdj$k of Y") ++
      groups.map(k => s"X vpt$k from Y\tX vpt$k of Y")

  // ------------------------------------------------------ zipf corpus

  private val Preps = Array("in", "on", "at", "from", "of", "with", "for",
    "to", "into", "over", "under", "about")
  val Verbs = 4000
  val Fillers = 30000

  /** Cumulative Zipf(s) weights over ranks 0 until n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** One Zipfian biarcs line in the Google syntactic-ngram layout
    * (`head \t ngram \t total \t year,count`). The seed draws the words;
    * the index fixes the line's shape: one of three n-gram templates, and
    * one line in a hundred malformed (too few fields, an unparseable
    * count, or no parseable token, in turn).
    */
  def zipfLine(j: Long, seed: Long, verbCdf: Array[Double],
      fillerCdf: Array[Double], prepCdf: Array[Double]): String = {
    def h(f: Int) = hash(seed, 100 + f, j)
    val v = s"vz${draw(verbCdf, unit(h(0)))}"
    val x = s"nz${draw(fillerCdf, unit(h(1)))}"
    val y = s"nz${draw(fillerCdf, unit(h(2)))}"
    val prep = Preps(draw(prepCdf, unit(h(3))))
    val c = 1 + Math.floorMod(h(4), 20L).toInt
    val year = 1950 + Math.floorMod(h(5), 60L)
    val ngram = j % 3 match {
      case 0 => s"$x/NNS/nsubj/2 $v/VBD/ROOT/0 $prep/IN/prep/2 $y/NN/pobj/3"
      case 1 => s"$x/NN/nsubj/2 $v/VBZ/ROOT/0 $y/NNS/dobj/2"
      case _ => s"the/DT/det/2 $x/NN/nsubj/3 $v/VBD/ROOT/0 $y/NNS/dobj/3"
    }
    if (j % 100 != 0) s"$v\t$ngram\t$c\t$year,$c"
    else (j / 100) % 3 match {
      case 0 => s"$v\t$ngram"
      case 1 => s"$v\t$ngram\t${c}x\t$year,$c"
      case _ => s"$v\t$x/NN/nsubj $v/VBD/ROOT/zero $y/NN\t$c\t$year,$c"
    }
  }

  /** A DIRT corpus of `zipfCount` Zipfian lines plus the planted
    * families of `groups`, in seed-permuted order. `stream` separates
    * corpora drawn from one seed (the incremental batches).
    */
  def dirtCorpus(spark: SparkSession, seed: Long, stream: Long,
      zipfCount: Long, groups: Array[Int], partitions: Int): Dataset[String] = {
    import spark.implicits._
    val plantedCount = groups.length.toLong * LinesPerGroup
    val n = plantedCount + zipfCount
    val p = perm(n, seed, stream)
    val s = salt(seed)
    val verbCdf = zipfCdf(Verbs, 1.05)
    val fillerCdf = zipfCdf(Fillers, 1.0)
    val prepCdf = zipfCdf(Preps.length, 1.0)
    val zseed = mix(seed ^ mix(stream))
    spark.range(0, n, 1, partitions).map { i =>
      val idx = p(i)
      if (idx < plantedCount) plantedLine(idx, groups.length, groups(_), s)
      else zipfLine(idx - plantedCount, zseed, verbCdf, fillerCdf, prepCdf)
    }
  }

  /** Test set for a Zipfian corpus: the planted family pairs, one hub
    * path paired with `hubSpokes` frequent paths, `random` pairs of
    * frequent paths (seed-drawn verbs), and a few lines the phrase
    * grammar cannot translate.
    * Also returns the pos/neg label lines for the evaluation sweep.
    */
  def zipfTestSet(seed: Long, groups: Seq[Int], hubSpokes: Int,
      random: Int): (Seq[String], Seq[String], Seq[String]) = {
    def phrase(v: Int, form: Long): String =
      if (form == 0) s"X vz$v Y" else s"X vz$v ${Preps((form - 1).toInt)} Y"
    val hub = (1 to hubSpokes).map(k => s"X vz0 in Y\t${phrase(k, 1)}")
    val rnd = (0 until random).map { r =>
      def h(f: Int) = hash(seed, 200 + f, r)
      val a = Math.floorMod(h(0), 400L).toInt
      val b = Math.floorMod(h(1), 400L).toInt
      s"${phrase(a, r % 4)}\t${phrase(b, (r / 4) % 4)}"
    }
    val bad = (0 until 10).map(r => s"X zz$r qq$r ww$r rr$r Y\tX vz$r Y")
    val fam = plantedTestSet(groups)
    val (twins, rest) = fam.splitAt(groups.length)
    val (disjoint, partial) = rest.splitAt(groups.length)
    val pos = twins ++ partial ++ hub.take(hubSpokes / 2) ++ rnd.take(random / 2)
    val neg = disjoint ++ hub.drop(hubSpokes / 2) ++ rnd.drop(random / 2)
    (fam ++ hub ++ rnd ++ bad, pos, neg)
  }

  // ------------------------------------------------------ dedup docs

  /** Adversarial near-duplicate docs (the `Bench.adversarialDocs` shape,
    * seed-salted and with seed-permuted ids): all docs share three
    * stopwords and one length block; docs pair into families. A family
    * f with f % 4 == 0 is two identical docs (Jaccard 1.0); every other
    * family shares 11 of 15 distinct words (Jaccard exactly 11/15). Docs
    * of different families share only the stopwords (Jaccard 3/23),
    * so the exact answer is n/2 pairs in n/2 components.
    */
  def dedupDocs(spark: SparkSession, seed: Long, n: Long,
      partitions: Int): DataFrame = {
    import spark.implicits._
    require(n % 2 == 0, "dedup doc count must be even")
    val p = perm(n, seed, 3)
    val s = salt(seed)
    spark.range(0, n, 1, partitions).map { i =>
      val f = i / 2
      val family = ('a' to 'h').map(c => s"f$f$c$s").mkString(" ")
      val text =
        if (f % 4 == 0) s"the of and $family u${f}a$s u${f}b$s"
        else s"the of and $family u${i}a$s u${i}b$s"
      (p(i), text, "en", 100L)
    }.toDF("doc_id", "text", "lang", "n_chars")
  }

  /** Family of a doc id under [[dedupDocs]]' permutation. */
  def dedupFamily(seed: Long, n: Long): Long => Long = {
    val p = perm(n, seed, 3)
    val inv = new Array[Long](n.toInt)
    var i = 0L
    while (i < n) { inv(p(i).toInt) = i; i += 1 }
    id => inv(id.toInt) / 2
  }
}
