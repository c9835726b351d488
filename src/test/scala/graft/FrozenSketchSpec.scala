package graft

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Reproducibility gate for the frozen sketch-estimate pins
  * (`queries/FrozenSketchSql`, round 13): re-run q14/q51/q147 live
  * under the canonical Verify session config (local[4], 4 shuffle
  * partitions — the layout the driver's correctness gate uses) and
  * compare against the committed frozen literals. HLL estimates are
  * layout-independent (commutative register-max merge); the GK
  * percentile sketch is layout-SENSITIVE (a local[8] probe produced
  * different p25 values), so this spec is the canary that the pins
  * stay reproducible under the one config that matters — it fails
  * loudly on a Spark-internals change, a fixture regeneration, or a
  * session-config drift, before the driver's hash compare does.
  */
class FrozenSketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val sf = "/root/testdata/sf0.01"

  private def fixture = new java.io.File(sf).exists()

  test("q14: live HLL++ estimates equal the frozen pins") {
    assume(fixture, "sf0.01 fixture not present")
    val sql = queries.FrozenSketchSql.q14
    val frozen = "\\('([^']*)', ([0-9]+)\\)".r.findAllMatchIn(sql)
      .map(m => (m.group(1), m.group(2).toLong)).toSeq
    assert(frozen.size == 5, s"expected 5 frozen rows: $frozen")
    val live = SparkEntry.queries("q14_approx_distinct")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(live == frozen,
      s"HLL++ estimates drifted from the committed pins: $live vs $frozen")
  }

  test("q51: live GK estimates equal the frozen pins under the Verify layout") {
    assume(fixture, "sf0.01 fixture not present")
    assert(gkLive(spark) == gkFrozen,
      s"GK estimates drifted from the committed pins: ${gkLive(spark)} vs $gkFrozen")
  }

  test("q51: the GK pin is layout-independent (alternate session layout reproduces it)") {
    assume(fixture, "sf0.01 fixture not present")
    // round 14 (VERDICT r13 #7): the query pins its own layout
    // (repartition on the group key + total sortWithinPartitions), so
    // an alternate shuffle-partition count AND an alternate file-split
    // size must reproduce the committed estimates bit-for-bit — a
    // Spark-default change can no longer masquerade as a correctness
    // failure.
    val alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "7")
    alt.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    assert(gkLive(alt) == gkFrozen,
      s"GK estimates are layout-sensitive again: ${gkLive(alt)} vs $gkFrozen")
  }

  test("q51: the pin recipe neutralizes an adversarially perturbed input partitioning") {
    assume(fixture, "sf0.01 fixture not present")
    // the strongest teeth: the sf0.01 parquet is a single row group, so
    // session-config deltas alone cannot perturb the scan — a 13-way
    // round-robin repartition CAN, and without the recipe it moves the
    // estimates (probed: p25 26841.41 vs the pinned 26895.83). With the
    // recipe the sketch insert order is a pure function of the data, so
    // even this input reproduces the pins bit-for-bit.
    import org.apache.spark.sql.functions.{col, expr}
    val perturbed = Tables.lineitem(spark, sf)
      .repartition(13)
      .repartition(4, col("l_returnflag"))
      .sortWithinPartitions("l_returnflag", "l_orderkey", "l_linenumber")
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 1000)").as("p50"),
        expr("approx_percentile(l_quantity, 0.9, 1000)").as("p90"),
        expr("approx_percentile(l_extendedprice, 0.25, 1000)").as("p25"))
      .orderBy("l_returnflag")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    assert(perturbed == gkFrozen,
      s"perturbed-input estimates diverged: $perturbed vs $gkFrozen")
  }

  private lazy val gkFrozen: Seq[(String, Double, Double, Double)] =
    "\\('([^']*)', ([0-9.]+), ([0-9.]+), ([0-9.]+)\\)".r
      .findAllMatchIn(queries.FrozenSketchSql.q51)
      .map(m => (m.group(1), m.group(2).toDouble, m.group(3).toDouble,
        m.group(4).toDouble)).toSeq
      .ensuring(_.size == 3, "expected 3 frozen q51 rows")

  private def gkLive(s: SparkSession): Seq[(String, Double, Double, Double)] =
    SparkEntry.queries("q51_approx_percentile")(s, sf)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(3),
        r.getDouble(5))).toSeq

  test("q147: live DataSketches HLL estimates equal the frozen pins") {
    assume(fixture, "sf0.01 fixture not present")
    val sql = queries.FrozenSketchSql.q147
    val frozen = "\\('([^']*)', ([0-9]+), ([0-9]+)\\)".r.findAllMatchIn(sql)
      .map(m => (m.group(1), m.group(2).toLong, m.group(3).toLong)).toSeq
    assert(frozen.size == 20, s"expected 20 frozen rows, got ${frozen.size}")
    val live = SparkEntry.queries("q147_hll_distinct_sketch")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSeq
    assert(live == frozen,
      s"HLL estimates drifted from the committed pins: $live vs $frozen")
  }
}
