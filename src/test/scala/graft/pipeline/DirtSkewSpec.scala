package graft.pipeline

import graft.queries.PlantedBiarc
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew evidence for the DIRT feature self-equi-join
  * (`DirtPipeline.similarity`, the Jobs 3+4 numerator join) — the claim
  * SURVEY.md §4 makes ("the feature self-join is an equi-join on
  * (slot, word) so AQE can split skewed hot paths") pinned the same way
  * `ShuffleSkewSpec` pins the jaccard join: broadcast disabled for the
  * non-hinted join (at 100 TB neither feature side broadcasts), AQE skew
  * thresholds scaled DOWN to fixture bytes — scaling changes WHEN
  * OptimizeSkewedJoin fires, not WHAT it does.
  *
  * The corpus is `PlantedBiarc.skewLines`: a hub path paired against
  * every spoke, all spokes sharing the hub's 4 filler pairs, so the 8
  * `(hub-path, slot, word)` join keys each carry `spokes` probe-side
  * rows while uniform-family keys carry one. The closed-form requires
  * run on the SAME result the plan assertion reads — the split must not
  * lose or duplicate a hot-key row.
  */
class DirtSkewSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4,
    "spark.sql.shuffle.partitions" -> "8")

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

  test("hub-and-spoke corpus triggers the AQE skew split in the similarity join") {
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k") {
      // ONE shared filler pair → 2 hot join keys over 8 shuffle
      // partitions (a hot key must be rare relative to partitions or
      // the MEDIAN partition contains one and the factor test is
      // vacuous — the ShuffleSkewSpec single-hot-word discipline)
      val groups = 50
      val spokes = 4000
      val scored = DirtPipeline.run(spark,
        PlantedBiarc.skewLines(spark, groups, spokes, shared = 1, unique = 1),
        PlantedBiarc.skewTestSet(groups, spokes))
      // collect() drives scored's OWN QueryExecution (persisting or
      // stacking an aggregation on top would clone/cache the plan and
      // leave this one without its final adaptive shape)
      val rows = scored.collect()
        .map(r => (r.getString(0), r.getDouble(2)))

      // closed forms survive the split: no lost or duplicated hot rows
      def family(tag: String) = rows.filter(_._1.contains(tag))
      val twins = family("vtw")
      assert(twins.length == groups &&
        twins.forall(r => math.abs(r._2 - 1.0) <= 1e-9),
        "twin pairs must score exactly 1.0 under the skew split")
      assert(family("vdj").forall(_._2 == 0.0),
        "disjoint pairs must score exactly 0.0 under the skew split")
      val hub = family("vsp")
      assert(hub.length == spokes,
        s"expected $spokes hub pairs, got ${hub.length}")
      assert(hub.forall(r => r._2 > 0.0 && r._2 < 1.0),
        "hub pairs must land strictly inside (0, 1)")

      val plan = scored.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"),
        s"AQE did not finalize:\n$plan")
      assert(plan.toLowerCase.contains("skew"),
        s"no skew-join split in the final adaptive plan:\n$plan")
    }
  }
}
