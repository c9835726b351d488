package graft

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pin the fixture schemas the operators are coupled to, so a testdata
  * drift fails loudly here instead of as a silent oracle mismatch:
  * `Dedup.jaccardPairs` reads documents.lang/n_chars, `VectorSearch`
  * assumes 64-dim float embeddings, `Tables.events` normalizes the NANOS
  * timestamp.
  */
class FixtureSchemaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val sf = "/root/testdata/sf0.001"

  test("documents has the dedup-coupled columns") {
    val s = Tables.documents(spark, sf).schema
    assert(s.fieldNames.toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    assert(s("doc_id").dataType.typeName == "long")
    assert(s("lang").dataType.typeName == "string")
    assert(s("n_chars").dataType.typeName == "long")
  }

  test("embeddings vectors are 64-dim float arrays") {
    val df = Tables.embeddings(spark, sf)
    assert(df.schema("embedding").dataType.simpleString == "array<float>")
    val dims = df.select(size(col("embedding")).as("d"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(dims == Seq(64))
  }

  test("documents text is BMP-only at every fixture scale (HashSql precondition)") {
    // The DuckDB murmur3 twin (HashSql) walks tokens by CODE POINT
    // (unicode()/substr()) while Scala's MurmurHash3.stringHash walks
    // UTF-16 CODE UNITS; the two agree exactly on BMP text and diverge
    // on any supplementary-plane character (surrogate pair). Pin the
    // precondition here so a regenerated fixture containing e.g. emoji
    // fails THIS audit loudly instead of surfacing as an inscrutable
    // q33/q34/q98/q99 oracle hash mismatch.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val n = Tables.documents(spark, dir)
        .filter(col("text").rlike("[\\x{10000}-\\x{10FFFF}]"))
        .count()
      assert(n == 0L, s"$dir has $n docs with supplementary-plane chars")
    }
  }

  test("events.ts normalizes to a microsecond timestamp") {
    val df = Tables.events(spark, sf)
    assert(df.schema("ts").dataType.typeName == "timestamp")
    assert(df.schema("props").dataType.typeName == "string")
    val r = df.agg(min("ts"), max("ts")).head()
    assert(r.getTimestamp(0).before(r.getTimestamp(1)))
  }
}
