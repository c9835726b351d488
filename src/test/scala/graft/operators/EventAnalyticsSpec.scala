package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Hand-computed funnel/retention kernels; the q94/q95 oracle rows prove
  * cross-engine agreement at fixture scale.
  */
class EventAnalyticsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  private def ts(day: Int, hour: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")

  test("funnel: steps must occur strictly in order per user") {
    val ev = Seq(
      (1L, "view", ts(1, 1)), (1L, "click", ts(1, 2)), (1L, "purchase", ts(1, 3)),
      (2L, "click", ts(1, 1)), (2L, "view", ts(1, 2)), // click BEFORE view
      (3L, "view", ts(1, 1)), (3L, "purchase", ts(1, 2)) // no click
    ).toDF("user_id", "event_type", "ts")
    val got = EventAnalytics.funnel(ev, Seq("view", "click", "purchase"))
      .as[(Int, String, Long)].collect().toSeq
    assert(got == Seq((1, "view", 3L), (2, "click", 1L), (3, "purchase", 1L)))
  }

  test("funnel: equal timestamps do NOT satisfy strictly-after") {
    val ev = Seq(
      (1L, "view", ts(1, 1)), (1L, "click", ts(1, 1))
    ).toDF("user_id", "event_type", "ts")
    val got = EventAnalytics.funnel(ev, Seq("view", "click"))
      .as[(Int, String, Long)].collect().toSeq
    assert(got == Seq((1, "view", 1L), (2, "click", 0L)))
  }

  test("retention: cohort by first week, offsets count active weeks") {
    // 2024-01-01 is a Monday; weeks are Mon-truncated
    val ev = Seq(
      (1L, "a", ts(1, 1)),  // W0
      (1L, "a", ts(9, 1)),  // W1
      (1L, "a", ts(23, 1)), // W3
      (2L, "a", ts(10, 1)), // W1 (cohort W1)
      (2L, "a", ts(11, 1))  // W1 again (same week, no double count)
    ).toDF("user_id", "event_type", "ts")
    val got = EventAnalytics.retention(ev)
      .as[(java.sql.Date, Int, Long)].collect()
      .map(r => (r._1.toString, r._2) -> r._3).toMap
    assert(got == Map(
      ("2024-01-01", 0) -> 1L, ("2024-01-01", 1) -> 1L,
      ("2024-01-01", 3) -> 1L, ("2024-01-08", 0) -> 1L))
  }

  test("scd2: versions chain per key, open interval is current") {
    val ev = Seq(
      (1L, 10L, "a", ts(1, 1)), (1L, 11L, "b", ts(1, 5)), (1L, 12L, "c", ts(2, 1)),
      (2L, 20L, "x", ts(1, 3))
    ).toDF("user_id", "event_id", "state", "ts")
    val got = EventAnalytics.scd2(ev)
      .select("user_id", "event_id", "state", "valid_from", "valid_to",
        "is_current")
      .as[(Long, Long, String, Timestamp, Option[Timestamp], Boolean)]
      .collect().sortBy(r => (r._1, r._4.getTime)).toSeq
    assert(got == Seq(
      (1L, 10L, "a", ts(1, 1), Some(ts(1, 5)), false),
      (1L, 11L, "b", ts(1, 5), Some(ts(2, 1)), false),
      (1L, 12L, "c", ts(2, 1), None, true),
      (2L, 20L, "x", ts(1, 3), None, true)))
  }

  test("scd2: equal timestamps chain deterministically by the id tiebreak") {
    val ev = Seq(
      (1L, 10L, "a", ts(1, 1)), (1L, 11L, "b", ts(1, 1))
    ).toDF("user_id", "event_id", "state", "ts")
    val got = EventAnalytics.scd2(ev)
      .select("event_id", "valid_to", "is_current")
      .as[(Long, Option[Timestamp], Boolean)].collect().sortBy(_._1).toSeq
    // the lower event id is the earlier version; its valid_to is the
    // (equal) timestamp of its successor
    assert(got == Seq((10L, Some(ts(1, 1)), false), (11L, None, true)))
  }
}
