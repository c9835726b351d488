package graft.operators

import graft.Tables
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization checks: determinism, the exact
  * reconstruction-cosine identity ADC relies on, degenerate-corpus
  * encoding, and recall against the exact search on the fixture
  * embeddings (the same contract SkewAndIvfSpec pins for IVF).
  */
class PqSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private val sf = "/root/testdata/sf0.001"

  test("ADC score equals the cosine of the explicit reconstruction") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 2f)),
      (1L, Array(0f, 1f, 2f, 0f)),
      (2L, Array(1f, 1f, 1f, 1f)),
      (3L, Array(2f, 0f, 0f, 1f))).toDF("vec_id", "embedding")
    val cb = Pq.trainCodebooks(emb, m = 2, ksub = 2, iters = 2)
    val codes = Pq.encode(emb, cb).as[(Long, Array[Int])].collect().toMap
    val got = Pq.pqTopK(emb, queryIds = Seq(0L), k = 3, m = 2, ksub = 2,
      iters = 2)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => r._2 -> r._3).toMap
    // recompute each neighbor's ADC score from the reconstruction
    val q = Array(1.0, 0.0, 0.0, 2.0)
    val qn = math.sqrt(q.map(x => x * x).sum)
    codes.filter(_._1 != 0L).foreach { case (id, code) =>
      val recon = code.zipWithIndex.flatMap { case (c, j) => cb.cents(j)(c) }
      val dot = recon.zip(q).map { case (a, b) => a * b }.sum
      val rn = math.sqrt(recon.map(x => x * x).sum)
      val want = math.rint(dot / (qn * rn) * 1e6) / 1e6
      assert(got(id) == want, s"neighbor $id")
    }
  }

  test("PQ top-k is deterministic; shortlist re-rank recalls most exact neighbours") {
    val emb = Tables.embeddings(spark, sf)
    val qids = 0L to 9L
    val exact = VectorSearch.cosineTopK(emb, qids, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq1 = Pq.pqTopK(emb, qids, k = 5, m = 8, ksub = 16, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq2 = Pq.pqTopK(emb, qids, k = 5, m = 8, ksub = 16, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq1 == pq2) // deterministic codebooks + encoding

    // pure ADC must at least beat chance by a wide margin (5 of ~500)
    val adcRecall = exact.intersect(pq1).size.toDouble / exact.size
    info(f"pure-ADC recall@5 = $adcRecall%.2f (m=8, ksub=16)")
    assert(adcRecall >= 0.1, s"ADC recall $adcRecall")

    // the production configuration: 50-candidate shortlist + exact
    // re-rank — quantization only has to SHORTLIST true neighbours
    val rr = Pq.pqTopK(emb, qids, k = 5, m = 8, ksub = 16, iters = 2,
      rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rrRecall = exact.intersect(rr).size.toDouble / exact.size
    info(f"reranked recall@5 = $rrRecall%.2f (shortlist 50)")
    assert(rrRecall >= 0.6, s"reranked recall $rrRecall")
    assert(rrRecall >= adcRecall)
  }

  test("IVF-PQ is deterministic; probed+reranked recall stays usable") {
    val emb = Tables.embeddings(spark, sf)
    val qids = 0L to 9L
    val exact = VectorSearch.cosineTopK(emb, qids, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = Pq.ivfPqTopK(emb, qids, k = 5, nList = 16, nProbe = 6,
      m = 8, ksub = 16, iters = 2, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Pq.ivfPqTopK(emb, qids, k = 5, nList = 16, nProbe = 6,
      m = 8, ksub = 16, iters = 2, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    val recall = exact.intersect(a).size.toDouble / exact.size
    info(f"IVF-PQ recall@5 = $recall%.2f (nProbe=6/16, shortlist 50)")
    // two stacked approximations (cells + codes): the bar is the
    // product-ish of the IVF (≥0.5) and PQ-rerank (≥0.6) bars
    assert(recall >= 0.4, s"recall $recall")
    // full probe + big shortlist recovers the IVF-only behavior or better
    val full = Pq.ivfPqTopK(emb, qids, k = 5, nList = 8, nProbe = 8,
      m = 8, ksub = 16, iters = 1, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullRecall = exact.intersect(full).size.toDouble / exact.size
    info(f"full-probe IVF-PQ recall@5 = $fullRecall%.2f")
    assert(fullRecall >= recall)
  }

  test("codebooks reject a dimension not divisible by m") {
    import spark.implicits._
    val emb = Seq((0L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Pq.trainCodebooks(emb, m = 2, ksub = 1, iters = 1)
    }
    assert(e.getMessage.contains("not divisible"))
  }
}
