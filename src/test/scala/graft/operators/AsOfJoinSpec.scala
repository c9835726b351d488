package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

class AsOfJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")

  test("asOfJoin picks latest at-or-before right row per key") {
    import spark.implicits._
    // quotes: user 1 at t2 (10.0) and t5 (20.0); user 3 at t1 (5.0)
    val right = Seq(
      (1L, ts(2), 10.0, "r1"),
      (1L, ts(5), 20.0, "r2"),
      (3L, ts(1), 5.0, "r3"))
      .toDF("user_id", "ts", "quote", "tag")
    // probes: before any quote, exactly at a quote, between, after, no-key
    val left = Seq(
      (100L, 1L, ts(1)), // before first quote -> null
      (101L, 1L, ts(2)), // tie: quote at same ts counts -> 10.0
      (102L, 1L, ts(4)), // between -> 10.0
      (103L, 1L, ts(9)), // after both -> 20.0
      (104L, 2L, ts(5))) // user without quotes -> null
      .toDF("event_id", "user_id", "ts")

    val out = AsOfJoin.asOfJoin(left, right, Seq("user_id"), "ts", "ts",
      Seq("quote", "tag"))
      .select("event_id", "asof_quote", "asof_tag")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        Option(r.getString(2))))
      .sortBy(_._1)

    assert(out.toSeq == Seq(
      (100L, None, None),
      (101L, Some(10.0), Some("r1")),
      (102L, Some(10.0), Some("r1")),
      (103L, Some(20.0), Some("r2")),
      (104L, None, None)))
  }

  test("payload columns always come from the same right row") {
    import spark.implicits._
    // second quote has a null tag: a per-column carry would mix r1's tag
    // with r2's quote; the struct carry must keep (20.0, null) atomic.
    val right = Seq(
      (1L, ts(2), Some(10.0), Some("r1")),
      (1L, ts(5), Some(20.0), None))
      .toDF("user_id", "ts", "quote", "tag")
    val left = Seq((200L, 1L, ts(9))).toDF("event_id", "user_id", "ts")

    val out = AsOfJoin.asOfJoin(left, right, Seq("user_id"), "ts", "ts",
      Seq("quote", "tag")).collect().head
    assert(out.getAs[Double]("asof_quote") == 20.0)
    assert(out.isNullAt(out.fieldIndex("asof_tag")))
  }
}
