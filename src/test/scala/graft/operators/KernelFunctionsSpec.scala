package graft.operators

import graft.Tables
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pure-function specs for the hash/sketch kernels the rows-only queries
  * rely on — determinism, containment monotonicity and the properties the
  * LSH constructions assume.
  */
class KernelFunctionsSpec extends AnyFunSuite {

  test("shingles: sliding character k-grams, degenerate inputs") {
    assert(Dedup.shingles("abcdef", 5) == Set("abcde", "bcdef"))
    assert(Dedup.shingles("abc", 5) == Set("abc")) // shorter than k
    assert(Dedup.shingles(null, 5) == Set(""))
  }

  test("minhash signature: deterministic, equal sets match, similar sets collide more") {
    val a = Dedup.shingles("the quick brown fox jumps over the lazy dog", 5)
    val b = Dedup.shingles("the quick brown fox jumps over the lazy cat", 5)
    val c = Dedup.shingles("completely unrelated content with other words", 5)
    val sigA1 = Dedup.minhashSignature(a, 64)
    val sigA2 = Dedup.minhashSignature(a, 64)
    assert(sigA1.toSeq == sigA2.toSeq) // deterministic
    val sigB = Dedup.minhashSignature(b, 64)
    val sigC = Dedup.minhashSignature(c, 64)
    def agree(x: Array[Long], y: Array[Long]) =
      x.zip(y).count { case (u, v) => u == v }
    assert(agree(sigA1, sigB) > agree(sigA1, sigC)) // J(a,b) >> J(a,c)
    assert(agree(sigA1, sigA2) == 64)
  }

  test("simhash64: deterministic; near-identical token sets are Hamming-close") {
    val t1 = "spark data pipeline with many shared tokens in common".split(" ").toSeq
    val t2 = "spark data pipeline with many shared tokens in commons".split(" ").toSeq
    val far = "entirely different vocabulary here nothing matches at all".split(" ").toSeq
    val h1 = Dedup.simhash64(t1)
    assert(h1 == Dedup.simhash64(t1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h1, Dedup.simhash64(t2)) < ham(h1, Dedup.simhash64(far)))
  }

  test("fingerprint: deterministic, shift-invariant for contained windows") {
    val base = "abcdefghijklmnopqrstuvwxyz0123456789"
    val f = TextAnalysis.fingerprintOf(base)
    assert(f == TextAnalysis.fingerprintOf(base))
    // winnowing min-hash: extending the text adds candidate windows and
    // keeps every window of the original, so the min never increases
    assert(TextAnalysis.fingerprintOf("ZZZZ" + base) <= f)
    assert(TextAnalysis.fingerprintOf(base + "ZZZZ") <= f)
    assert(TextAnalysis.fingerprintOf("short") == 0L) // < k chars
    assert(TextAnalysis.fingerprintOf(null) == 0L)
  }

  lazy val spark: SparkSession = Sessions.local(4)

  test("minhashPairs emits canonical id1 < id2 pairs") {
    import spark.implicits._
    // regression: using-column joins reorder columns and ordinal tuple
    // binding once swapped the ids in the verify stage
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (100001L, "the quick brown fox jumps over the lazy dog again"),
      (7L, "some completely different text with other content here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((1L, 100001L, 1.0)))
  }

  test("dropExactDups keeps one row per digest, including null-text groups") {
    import spark.implicits._
    // md5(null) is null: a null-unsafe digest equality would silently
    // drop BOTH null-text rows instead of keeping the min-id one
    val docs = Seq((1L, null: String), (2L, null: String),
      (3L, "x"), (4L, "x"), (5L, "y")).toDF("doc_id", "text")
    val kept = Dedup.dropExactDups(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L))
  }

  test("sampleFrames strides payload bytes with bounds respected") {
    import spark.implicits._
    val media = Multimodal.asMediaTable(
      Seq((1L, "abcdefghij"), (2L, "xy")).toDF("doc_id", "text"))
    val rows = Multimodal.sampleFrames(media, stride = 4)
      .as[(Long, Int, Int)].collect().toSet
    assert(rows == Set(
      (1L, 0, 'a'.toInt), (1L, 4, 'e'.toInt), (1L, 8, 'i'.toInt),
      (2L, 0, 'x'.toInt)))
  }

  test("stubDecode dimensions are deterministic functions of payload size") {
    val bytes = "0123456789".getBytes("UTF-8")
    val (w, h, fr, feat) = Multimodal.stubDecode(bytes)
    assert(w == 16 + bytes.length % 64)
    assert(h == 16 + (bytes.length / 64) % 64)
    assert(fr == 1)
    assert(math.abs(feat.sum - 1.0f) < 1e-5) // normalized histogram
    val (w0, h0, fr0, feat0) = Multimodal.stubDecode(Array.emptyByteArray)
    assert((w0, h0, fr0) == ((0, 0, 0)))
    assert(feat0.toSeq == Seq.fill(8)(0f))
  }
}
