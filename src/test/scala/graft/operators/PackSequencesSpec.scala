package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Curation.packSequences]]: full-coverage and boundary invariants of
  * concat-then-split packing, checked on a single-shard corpus where the
  * expected spans are hand-computable.
  */
class PackSequencesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  private def doc(id: Long, nToks: Int): (Long, String) =
    (id, Seq.fill(nToks)("w").mkString(" "))

  test("straddling doc resumes doc-relative position ids") {
    // one shard; docs of 5, 300, 10 tokens; L=128
    val docs = Seq(doc(1, 5), doc(2, 300), doc(3, 10))
      .toDF("doc_id", "text")
    val got = Curation
      .packSequences(docs, seqLen = 128, nShards = 1)
      .select("seq_id", "doc_id", "seq_off", "pos_start", "span_toks")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (0L, 1L, 0L, 0L, 5L),
      (0L, 2L, 5L, 0L, 123L),
      (1L, 2L, 0L, 123L, 128L),
      (2L, 2L, 0L, 251L, 49L),
      (2L, 3L, 49L, 0L, 10L)))
  }

  test("every token appears in exactly one span; non-final seqs full") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 120L).map(i => doc(i, 1 + rnd.nextInt(90)))
      .toDF("doc_id", "text")
    val packed = Curation.packSequences(docs, seqLen = 64, nShards = 4)
      .persist()

    // per-doc coverage: span_toks sums to the doc's token count and
    // pos_start chains contiguously from 0
    val perDoc = packed.groupBy("doc_id")
      .agg(sum("span_toks").as("toks"), min("pos_start").as("p0"))
      .join(docs.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("expect")),
        Seq("doc_id"))
    assert(perDoc.filter(col("toks") =!= col("expect") ||
      col("p0") =!= 0L).count() == 0)

    // per-sequence: offsets tile the sequence exactly (no gap/overlap)
    val badTile = packed
      .withColumn("end", col("seq_off") + col("span_toks"))
      .withColumn("next_off",
        lead("seq_off", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("shard", "seq_id").orderBy("seq_off")))
      .filter(col("next_off").isNotNull && col("next_off") =!= col("end"))
      .count()
    assert(badTile == 0)

    // non-final sequences exactly full
    val lastSeq = packed.groupBy("shard").agg(max("seq_id").as("last"))
    val notFull = packed.groupBy("shard", "seq_id")
      .agg(sum("span_toks").as("t"))
      .join(lastSeq, Seq("shard"))
      .filter(col("seq_id") < col("last") && col("t") =!= 64L)
      .count()
    assert(notFull == 0)
    packed.unpersist()
  }
}
