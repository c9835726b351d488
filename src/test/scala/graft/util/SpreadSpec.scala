package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-18 scan-parallelism floor (Spread.cpuBound, applied at the
  * CPU-bound operator call sites): a single-file fixture scan must fan
  * out to the cluster's parallelism before per-row-expensive stages,
  * WITHOUT losing filter pushdown or column pruning at the parquet
  * scan, and must be a structural no-op on an input that already has
  * enough partitions.
  */
class SpreadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val sf = "/root/testdata/sf0.001"

  private def docs = Spread.cpuBound(
    spark.read.parquet(s"$sf/documents.parquet"))

  test("cpuBound floors a 1-partition scan to defaultParallelism") {
    assume(new java.io.File(sf).exists(), "sf0.001 fixture not present")
    assert(docs.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism,
      "single-file scan must be floored to the cluster's parallelism")
  }

  test("cpuBound is a no-op when the input already has enough partitions") {
    import spark.implicits._
    val wide = (0 until 100).toDF("i").repartition(16)
    // 16 >= defaultParallelism(4): the SAME frame comes back, no
    // second exchange appended
    assert(Spread.cpuBound(wide) eq wide)
  }

  test("filter pushdown and column pruning survive the spread") {
    assume(new java.io.File(sf).exists(), "sf0.001 fixture not present")
    val plan = docs
      .filter(col("doc_id") === 7L)
      .select("doc_id", "lang")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)]"),
      s"filter did not reach the scan:\n$plan")
    val readSchema = plan.linesIterator
      .find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("lang") &&
      !readSchema.contains("text"),
      s"column pruning lost through the spread: $readSchema")
  }

  test("cpuBound refuses exchange-bearing plans instead of probing them") {
    import spark.implicits._
    val a = (0 until 10).toDF("i")
    val joined = a.join(a.withColumnRenamed("i", "j"), col("i") === col("j"))
    val e = intercept[IllegalArgumentException](Spread.cpuBound(joined))
    assert(e.getMessage.contains("cpuBoundPost"), e.getMessage)
    val agg = a.groupBy("i").count()
    intercept[IllegalArgumentException](Spread.cpuBound(agg))
    // distinct/dropDuplicates become aggregates and intersect/except
    // joins only in the optimized plan the guard reads; a range, not a
    // local relation, so the optimizer cannot fold the limit away
    val r = spark.range(100).select((col("id") % 7).as("i"))
    Seq(r.distinct(), r.dropDuplicates("i"), r.intersect(r), r.except(r),
      r.limit(5)).foreach { df =>
      intercept[IllegalArgumentException](Spread.cpuBound(df))
    }
  }

  test("cpuBoundPost spreads to max(defaultParallelism, shuffle.partitions)") {
    import spark.implicits._
    val a = (0 until 64).toDF("i")
    val joined = a.join(a.withColumnRenamed("i", "j"), col("i") === col("j"))
    val out = Spread.cpuBoundPost(joined)
    val want = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    assert(out.rdd.getNumPartitions == want)
    assert(out.collect().map(_.getInt(0)).sorted.toSeq == (0 until 64))
    // an operator's caller-supplied join or limit takes the same path
    assert(Spread.cpuBoundAny(joined).rdd.getNumPartitions == want)
    assert(Spread.cpuBoundAny(spark.range(64).limit(5))
      .rdd.getNumPartitions == want)
  }

  test("spread rows are the scanned rows — same result set") {
    assume(new java.io.File(sf).exists(), "sf0.001 fixture not present")
    val viaSpread = docs
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val raw = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaSpread == raw)
  }
}
