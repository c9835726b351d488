package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot diff: full-outer classification, null-safe column compare,
  * multi-column keys, identical-rows-dropped contract.
  */
class SnapshotSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  test("added / removed / changed classified; identical rows dropped") {
    val prev = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val next = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "v")
    val got = Snapshot.diff(prev, next, Seq("id"), Seq("v"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((2L, "changed"), (3L, "removed"), (4L, "added")))
  }

  test("null-safe compare: NULL->value is changed, NULL->NULL is not") {
    val prev = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
      .toDF("id", "v")
    val next = Seq((1L, "x"), (2L, null.asInstanceOf[String])).toDF("id", "v")
    val got = Snapshot.diff(prev, next, Seq("id"), Seq("v"))
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "changed")))
  }

  test("multi-column keys and compares") {
    val prev = Seq(("a", 1L, "x", 10L), ("a", 2L, "y", 20L))
      .toDF("k1", "k2", "v1", "v2")
    val next = Seq(("a", 1L, "x", 11L), ("a", 2L, "y", 20L))
      .toDF("k1", "k2", "v1", "v2")
    val got = Snapshot
      .diff(prev, next, Seq("k1", "k2"), Seq("v1", "v2"))
      .as[(String, Long, String)].collect().toSeq
    assert(got == Seq(("a", 1L, "changed"))) // v2 differs, v1 does not
  }

  test("reserved marker column names are rejected, not clobbered") {
    val t = Seq((1L, "a")).toDF("_p", "v")
    intercept[IllegalArgumentException](
      Snapshot.diff(t, t, Seq("_p"), Seq("v")))
    val u = Seq((1L, "a")).toDF("id", "_n")
    intercept[IllegalArgumentException](
      Snapshot.diff(u, u, Seq("id"), Seq("_n")))
  }

  test("diff of a table against itself is empty") {
    val t = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Snapshot.diff(t, t, Seq("id"), Seq("v")).count() == 0L)
  }
}
