package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Rounding-boundary audit for the frozen-quantizer oracle family
  * (q35/q36/q44/q45/q46/q85/q86/q108/q109) at the driver's oracle
  * fixture, the same discipline as the committed q33 Jaccard audit:
  * every score both engines compare is `round(x, 6)`-ed BEFORE
  * ranking/thresholding, and SQL `sum()` / `list_cosine_similarity`
  * leave float summation order unspecified while the Spark side uses
  * fixed loops — a reorder shifts a sum by ~ulps (|err| ≲ 1e-13 for
  * these ≤64-term unit-scale sums), which can only change a ROUNDED
  * value if the unrounded score sits within that distance of a
  * `(n + 0.5)·1e-6` boundary. This spec recomputes, in plain
  * deterministic Scala from the frozen committed artifacts, every score
  * whose rounded value is OUTPUT-RELEVANT, and pins its distance from
  * the nearest boundary ≥ 5e-4 decimal-6 units (= 5e-10 absolute,
  * 3+ orders above reorder noise). Output-relevant means:
  *
  *   - top-k families (q35 brute-force, q36 SRP buckets, q44 probed
  *     cells, q85/q109 ADC-shortlist rerank): candidates whose rounded
  *     cosine reaches or neighbors the family's rank-5 cutoff — those
  *     decide membership, ordering AND print; candidates further below
  *     the cutoff cannot affect the output under ulp-scale shifts;
  *   - ADC scores themselves (q85/q109): candidates at/near the
  *     50-candidate shortlist cutoff (membership only — adc scores
  *     never print);
  *   - threshold families (q45 all-pairs, q46 SRP pairs, q86/q108
  *     same-cell pairs): pairs whose rounded cosine reaches or
  *     neighbors the 0.4 keep threshold (q45's pair set is a superset
  *     of the other three families').
  *
  * Assignment ties (sub-code, coarse cell, probe set) are separately
  * pinned: the best-vs-runner-up squared-distance margin is either
  * exactly 0.0 (bit-identical inputs — both engines then break the tie
  * by code/cell id the same way) or ≥ 1e-9, far above reorder noise.
  */
class AnnBoundaryAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val dir = "/root/testdata/sf0.01"
  val BoundaryFloor = 5e-4 // decimal-6 units; reorder noise ≲ 1e-7 units
  val MarginFloor = 1e-9 // squared-distance units

  lazy val vecs: Array[(Long, Array[Float])] = {
    import spark.implicits._
    graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
  }
  lazy val coarse: Array[Array[Double]] =
    FrozenCentroids.coarseFor(dir).get
  lazy val cb: Pq.Codebooks = FrozenCentroids.codebooksFor(dir).get

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }
  private def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))
  private def cos(a: Array[Float], b: Array[Float]): Double =
    dot(a, b) / (norm(a) * norm(b))
  private def sqDist(v: Array[Float], c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { val t = v(i) - c(i); s += t * t; i += 1 }
    s
  }

  /** Distance of v from the nearest round-to-6 boundary, in 1e-6 units. */
  private def boundaryDist(v: Double): Double = {
    val s = v * 1e6
    val f = s - math.floor(s)
    math.abs(f - 0.5)
  }
  private def round6(v: Double): Double = math.round(v * 1e6) / 1e6

  private val queryIds: Seq[Int] = (0 to 9)

  /** Frozen-codebook PQ codes, ties to the lower code (Pq.nearestSub). */
  lazy val codes: Array[Array[Int]] = vecs.map { case (_, v) =>
    Array.tabulate(cb.m) { j =>
      val sl = v.slice(j * cb.dsub, (j + 1) * cb.dsub)
      var best = 0; var bestD = Double.MaxValue
      for (c <- cb.cents(j).indices) {
        val d = sqDist(sl, cb.cents(j)(c))
        if (d < bestD) { bestD = d; best = c }
      }
      best
    }
  }

  lazy val cellOf: Array[Int] = vecs.map { case (_, v) =>
    coarse.indices.minBy(i => (sqDist(v, coarse(i)), i))
  }

  private def probeSet(v: Array[Float], nProbe: Int): Set[Int] =
    coarse.indices.map(i => (i, sqDist(v, coarse(i))))
      .sortBy { case (i, d) => (d, i) }.take(nProbe).map(_._1).toSet

  /** ADC cosines of every candidate index vs query qi (frozen codes). */
  private def adcScores(qi: Int, cand: Seq[Int]): Seq[(Int, Double)] = {
    val qv = vecs(qi)._2
    val qn = norm(qv)
    val dotTab = Array.tabulate(cb.m)(j => cb.cents(j).map { cent =>
      var s = 0.0
      for (i <- cent.indices) s += qv(j * cb.dsub + i).toDouble * cent(i)
      s
    })
    val normTab = Array.tabulate(cb.m)(j =>
      cb.cents(j).map(c => c.map(x => x * x).sum))
    cand.map { i =>
      var d = 0.0; var n2 = 0.0
      for (j <- 0 until cb.m) {
        d += dotTab(j)(codes(i)(j)); n2 += normTab(j)(codes(i)(j))
      }
      (i, d / (qn * math.sqrt(n2)))
    }
  }

  /** Min boundary distance over values at/above the rank-k rounded
    * cutoff neighborhood; (audited count, min distance).
    */
  private def topCutAudit(values: Seq[Double], k: Int): (Int, Double) = {
    val rk = values.map(round6).sortBy(-_).apply(math.min(k, values.size) - 1)
    val rel = values.filter(v => round6(v) >= rk - 1.5e-6)
    (rel.size, rel.map(boundaryDist).min)
  }

  test("sub-quantizer / coarse assignment margins are 0 or wide") {
    var minPos = Double.MaxValue
    for ((_, v) <- vecs) {
      val cd = coarse.map(c => sqDist(v, c)).sorted
      for (w <- cd.sliding(2)) {
        val m = w(1) - w(0)
        assert(m == 0.0 || m >= MarginFloor, s"coarse margin $m")
        if (m > 0) minPos = math.min(minPos, m)
      }
      for (j <- 0 until cb.m) {
        val sl = v.slice(j * cb.dsub, (j + 1) * cb.dsub)
        val ds = cb.cents(j).map(c => sqDist(sl, c)).sorted
        val m = ds(1) - ds(0)
        assert(m == 0.0 || m >= MarginFloor, s"sub margin $m")
        if (m > 0) minPos = math.min(minPos, m)
      }
    }
    info(f"min positive assignment margin: $minPos%.3e")
  }

  test("top-k family cutoff cosines sit away from rounding boundaries") {
    var worst = Double.MaxValue
    var audited = 0
    for (qi <- queryIds) {
      val qv = vecs(qi)._2
      def exact(cand: Seq[Int]): Seq[Double] =
        cand.map(i => cos(qv, vecs(i)._2))
      val others = vecs.indices.filter(_ != qi)

      // q35: brute-force over all candidates
      val (n1, d1) = topCutAudit(exact(others), 5)

      // q44: the 6 probed coarse cells
      val probed = probeSet(qv, 6)
      val (n2, d2) = topCutAudit(
        exact(others.filter(i => probed.contains(cellOf(i)))), 5)

      // q36: SRP bucket union, nBits=4, tables=16
      val planes = Array.tabulate(16)(t =>
        VectorSearch.hyperplanes(4, 64, seed = 0x9e3779b9L + t))
      val sigs = vecs.map { case (_, v) =>
        planes.map(p => VectorSearch.srpSignatureArray(v, p)) }
      val srpCand = others.filter(i =>
        planes.indices.exists(t => sigs(i)(t) == sigs(qi)(t)))
      val (n3, d3) = topCutAudit(exact(srpCand), 5)

      // q85/q109 rerank: exact cosines of the 50-candidate ADC
      // shortlist (rounded-adc order, id tie-break); q109's probed
      // shortlist is a reordering of a subset — audit both
      val adcAll = adcScores(qi, others)
      def shortlist(sc: Seq[(Int, Double)]): Seq[Int] =
        sc.sortBy { case (i, v) => (-round6(v), vecs(i)._1) }
          .take(50).map(_._1)
      val (n4, d4) = topCutAudit(exact(shortlist(adcAll)), 5)
      val adcProbed = adcScores(qi,
        others.filter(i => probed.contains(cellOf(i))))
      val (n5, d5) = topCutAudit(exact(shortlist(adcProbed)), 5)

      audited += n1 + n2 + n3 + n4 + n5
      worst = (Seq(worst, d1, d2, d3, d4, d5)).min
    }
    info(f"cutoff-relevant cosines audited: $audited, min boundary distance: $worst%.3e")
    assert(worst >= BoundaryFloor)
  }

  test("threshold-family cosines at/near 0.4 sit away from boundaries") {
    var minP = Double.MaxValue
    var nNear = 0
    for (i <- vecs.indices; j <- (i + 1) until vecs.length) {
      val c = cos(vecs(i)._2, vecs(j)._2)
      if (round6(c) >= 0.4 - 1.5e-6) {
        nNear += 1
        minP = math.min(minP, boundaryDist(c))
      }
    }
    info(f"pairs at/near threshold: $nNear, min boundary distance: $minP%.3e")
    assert(minP >= BoundaryFloor)
  }

  test("ADC shortlist-cutoff neighborhoods sit away from boundaries") {
    var minCut = Double.MaxValue
    var audited = 0
    for (qi <- queryIds) {
      val qv = vecs(qi)._2
      val others = vecs.indices.filter(_ != qi)
      val probed = probeSet(qv, 6)
      for (cand <- Seq(others,
          others.filter(i => probed.contains(cellOf(i))))) {
        val adc = adcScores(qi, cand).map(_._2)
        val r50 = adc.map(round6).sortBy(-_)
          .apply(math.min(50, adc.size) - 1)
        for (v <- adc if math.abs(round6(v) - r50) <= 1.5e-6) {
          audited += 1
          minCut = math.min(minCut, boundaryDist(v))
        }
      }
    }
    info(f"cutoff-adjacent ADC scores: $audited, min boundary distance: $minCut%.3e")
    assert(minCut >= BoundaryFloor)
  }
}
