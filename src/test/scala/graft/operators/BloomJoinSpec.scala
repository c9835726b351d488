package graft.operators

import graft.Tables
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BloomJoin must be invisible in the result (no false negatives) while
  * genuinely reducing the probe side before the shuffle.
  */
class BloomJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val sf = "/root/testdata/sf0.001"

  test("prefiltered join == plain join, and the prefilter reduces the probe") {
    val li = Tables.lineitem(spark, sf)
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_orderpriority")

    val plain = li.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    val bloomed = BloomJoin.prefilteredJoin(
        li, urgent, probeKey = "l_orderkey", buildKey = "o_orderkey")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")

    assert(bloomed.exceptAll(plain).isEmpty && plain.exceptAll(bloomed).isEmpty)

    val kept = BloomJoin.prefilterProbe(
      li, urgent, "l_orderkey", "o_orderkey").count()
    val total = li.count()
    val matched = plain.count()
    // no false negatives: every matching row survives the prefilter;
    // real reduction: with ~82% of orders non-urgent and fpp 1%, the
    // kept set must sit well under the full probe
    assert(kept >= matched)
    assert(kept < total)
  }

  test("null probe keys are dropped, not crashed on") {
    import spark.implicits._
    val probe = Seq((Some(1L), "a"), (None: Option[Long], "b"))
      .toDF("k", "v")
    val build = Seq((1L, "x")).toDF("bk", "bv")
    val out = BloomJoin.prefilteredJoin(probe, build, "k", "bk")
    assert(out.count() == 1L)
  }
}
