package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew evidence beyond TfIdfSkewSpec, on the two newest shuffle
  * joins that would meet Zipf keys in production: the jaccard naive
  * (block, word) self-join and the snapshot-diff full-outer join.
  *
  * Same method as TfIdfSkewSpec: broadcast disabled (at 100 TB neither
  * side broadcasts; the fixture would dodge the shuffle), AQE skew
  * thresholds scaled DOWN to fixture bytes — scaling changes WHEN
  * OptimizeSkewedJoin fires, not WHAT it does.
  *
  * The snapshot-diff test pins the opposite, equally load-bearing fact:
  * Spark's OptimizeSkewedJoin cannot split EITHER side of a full-outer
  * join (splitting a side would duplicate its null-extension rows), so
  * `Snapshot.diff`'s skew defense is its unique-key contract — with at
  * most one row per key per side, no join key can fan out, and hash
  * partitioning bounds every partition at ~|keys|/shuffle-partitions
  * rows regardless of key distribution. The spec documents that by
  * asserting the skew split does NOT appear even under forced confs,
  * while the same session does split the jaccard join.
  */
class ShuffleSkewSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4,
    "spark.sql.shuffle.partitions" -> "8")

  /** Runtime confs set per-test and restored in a finally — the test JVM
    * shares one SparkSession across suites (`getOrCreate`).
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

  private val skewConfs = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k")

  test("Zipf-hot word triggers the AQE skew split in the jaccard naive join") {
    import spark.implicits._
    withConfs(skewConfs: _*) {
      // every doc shares 'the' (plus two mid-frequency words), and every
      // doc lands in ONE (lang, blk) block — after the (lang, blk, word)
      // shuffle the 'the' partition carries ~n·df rows vs thin tails.
      // Pairs: doc 2i and 2i+1 share all 6 content words -> J = 6/6 = 1
      // over a planted closed-form answer of exactly n/2 pairs.
      val n = 4000L
      val docs = spark.range(n).map { i =>
        val f = i / 2
        (i, s"the of and p${f}a p${f}b p${f}c", "en", 100L)
      }.toDF("doc_id", "text", "lang", "n_chars")

      // naiveBlockVolume = Long.MaxValue routes EVERY block to the naive
      // (block, word) self-join — the route under test
      val pairs = Dedup.jaccardPairs(docs, threshold = 0.9,
        naiveBlockVolume = Long.MaxValue)
      val got = pairs.collect()
      assert(got.length == (n / 2).toInt,
        s"expected ${n / 2} planted pairs, got ${got.length}")
      assert(got.forall(_.getDouble(2) == 1.0))

      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"AQE did not finalize:\n$plan")
      assert(plan.toLowerCase.contains("skew"),
        s"no skew-join split in the final adaptive plan:\n$plan")
    }
  }

  test("full-outer snapshot diff: AQE cannot split it; unique keys are the defense") {
    import spark.implicits._
    withConfs(skewConfs: _*) {
      // same scaled thresholds, deliberately oversized fat-row
      // partitions on both sides — if OptimizeSkewedJoin COULD touch a
      // full-outer join, these confs would force it (they force the
      // inner-join split above)
      val payload = "x" * 2000
      val prev = spark.range(8000L)
        .select(col("id").as("k"), concat(lit(payload), col("id")).as("v"))
      val next = spark.range(4000L, 12000L)
        .select(col("id").as("k"),
          concat(lit(payload), col("id"), lit("m")).as("v"))

      val diff = Snapshot.diff(prev, next, Seq("k"), Seq("v"))
      // collect() drives diff's OWN QueryExecution (an aggregation on
      // top would clone the plan and leave this one unexecuted)
      val byChange = diff.collect()
        .groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
      // 0..3999 removed, 4000..7999 changed, 8000..11999 added
      assert(byChange == Map(
        "removed" -> 4000L, "changed" -> 4000L, "added" -> 4000L))

      val plan = diff.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"AQE did not finalize:\n$plan")
      assert(!plan.toLowerCase.contains("isskewjoin=true"),
        "Spark split a full-outer join — the Snapshot class-doc skew " +
          s"story needs rewriting:\n$plan")
    }
  }
}
