package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Evidence that the tf⋈df term shuffle's claimed scale story — "the
  * vocabulary is Zipf-skewed, which AQE's skew-join split handles at
  * runtime" (TfIdf class doc) — actually engages, not just exists.
  *
  * The session emulates the at-scale join shape: broadcast disabled
  * (a 100 TB corpus's vocabulary is far past broadcast range, but the
  * fixture's would broadcast and dodge the shuffle entirely), and the
  * AQE skew thresholds scaled DOWN to fixture bytes — the production
  * defaults (256 MB skewed-partition threshold) are sized for real
  * clusters and cannot trip on any corpus this suite could hold, which
  * is the documented reason the full-size bench carries no skew entry.
  * Factor/threshold scaling changes WHEN OptimizeSkewedJoin fires, not
  * WHAT it does, so the split machinery this spec pins is the same one
  * the defaults arm at scale.
  */
class TfIdfSkewSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4,
    "spark.sql.shuffle.partitions" -> "8")

  /** All skew-probe confs are RUNTIME confs, set per-test and restored in
    * a finally — the test JVM shares one SparkSession across suites
    * (`getOrCreate`), so builder-level configs here would leak a disabled
    * broadcast threshold into every other suite's plan assertions.
    */
  private def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val saved = confs.map { case (k, _) => k -> conf.getOption(k) }
    confs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("a Zipf-hot term triggers the AQE skew-join split in tf⋈df") {
    import spark.implicits._
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k") {
      // 'the' appears in every doc; 800 tail terms spread thin — after
      // the term-keyed shuffle one partition carries ~25x its neighbors
      val docs = spark.range(20000L).map { i =>
        (i, s"the t${i % 400} u${(i * 7) % 400} f${i % 13}")
      }.toDF("doc_id", "text")

      val stats = TfIdf.termStats(docs)
      // collect() drives stats' OWN QueryExecution (count() would clone
      // a new plan and leave this one unexecuted / non-final)
      assert(stats.collect().nonEmpty)

      // AQE final plan (post-execution): the skew split must be visible
      // either on the join node (isSkewJoin) or its shuffle reads
      val plan = stats.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"AQE did not finalize:\n$plan")
      assert(plan.toLowerCase.contains("skew"),
        s"no skew-join split in the final adaptive plan:\n$plan")

      // and the split must not have changed the answer: the hot term's
      // df is every doc, tf totals equal the corpus token count
      val hot = stats.filter($"term" === "the")
        .agg(org.apache.spark.sql.functions.sum("tf"),
          org.apache.spark.sql.functions.max("df"))
        .as[(Long, Long)].head()
      assert(hot == ((20000L, 20000L)))
    }
  }
}
