package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed MERGE semantics for [[Cdc.latestWinsMerge]]: upsert
  * wins by (ts, tiebreak), deletes remove, unseen keys insert, keys
  * without changes pass through — and the answer is independent of
  * changelog row order (the struct-max reduction is commutative).
  */
class CdcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  private val base = Seq(
    (1L, "alice", 10.0),
    (2L, "bob", 20.0),
    (3L, "carol", 30.0),
    (4L, "dave", 40.0)).toDF("k", "name", "bal")

  // per key: 1 → two updates (later wins), 2 → update then delete,
  // 3 → untouched, 4 → delete then REINSERT (later wins), 5 → pure insert
  private val changes = Seq(
    (1L, "alice2", 11.0, 1L, 1L, "U"),
    (1L, "alice3", 12.0, 2L, 2L, "U"),
    (2L, "bob2", 21.0, 1L, 3L, "U"),
    (2L, "bob2", 21.0, 2L, 4L, "D"),
    (4L, "dave", 40.0, 1L, 5L, "D"),
    (4L, "dave2", 44.0, 2L, 6L, "I"),
    (5L, "erin", 50.0, 1L, 7L, "I"))
    .toDF("k", "name", "bal", "ts", "tieb", "op")

  private val expected = Set(
    (1L, "alice3", 12.0), // latest update wins
    (3L, "carol", 30.0),  // untouched passthrough
    (4L, "dave2", 44.0),  // delete superseded by reinsert
    (5L, "erin", 50.0))   // insert of an unseen key

  test("latest-wins merge: upsert/delete/insert/passthrough") {
    val got = Cdc.latestWinsMerge(base, changes, "k", Seq("ts", "tieb"))
      .as[(Long, String, Double)].collect().toSet
    assert(got == expected)
  }

  test("result is independent of changelog row order and partitioning") {
    val shuffled = changes.orderBy($"tieb".desc).repartition(7)
    val got = Cdc.latestWinsMerge(base, shuffled, "k", Seq("ts", "tieb"))
      .as[(Long, String, Double)].collect().toSet
    assert(got == expected)
  }

  test("change feed classifies the same fixture: update pre/post, delete, insert") {
    val got = Cdc
      .latestWinsChanges(base, changes, "k", Seq("ts", "tieb"))
      .as[(Long, String, Double, String)].collect().toSet
    assert(got == Set(
      (1L, "alice", 10.0, "update_preimage"),
      (1L, "alice3", 12.0, "update_postimage"),
      (2L, "bob", 20.0, "delete"),
      // key 3 untouched: no change rows
      (4L, "dave", 40.0, "update_preimage"), // reinsert over a live key = update
      (4L, "dave2", 44.0, "update_postimage"),
      (5L, "erin", 50.0, "insert")))
  }

  test("change feed suppresses no-ops: identical upserts (null-safe) and deletes of absent keys") {
    val b = Seq(
      (1L, Option("a"), Option(1.0)),
      (2L, Option.empty[String], Option(2.0))).toDF("k", "name", "bal")
    val c = Seq(
      // image identical to the base row → no change
      (1L, Option("a"), Option(1.0), 1L, "U"),
      // identical INCLUDING a null payload field → <=> equality, no change
      (2L, Option.empty[String], Option(2.0), 1L, "U"),
      // delete of a key the table never had → no change
      (9L, Option("ghost"), Option(9.0), 1L, "D"))
      .toDF("k", "name", "bal", "ts", "op")
    assert(Cdc.latestWinsChanges(b, c, "k", Seq("ts")).isEmpty)
    // but a null flipping to a value IS an update
    val c2 = Seq((2L, Option("now"), Option(2.0), 1L, "U"))
      .toDF("k", "name", "bal", "ts", "op")
    val got = Cdc.latestWinsChanges(b, c2, "k", Seq("ts"))
      .select("k", "name", "_change_type")
      .as[(Long, Option[String], String)].collect().toSet
    assert(got == Set(
      (2L, None, "update_preimage"),
      (2L, Some("now"), "update_postimage")))
  }

  test("change feed + merge agree: post-state = base minus deletes/pre-images plus inserts/post-images") {
    val merged = Cdc.latestWinsMerge(base, changes, "k", Seq("ts", "tieb"))
      .as[(Long, String, Double)].collect().toSet
    val feed = Cdc.latestWinsChanges(base, changes, "k", Seq("ts", "tieb"))
      .as[(Long, String, Double, String)].collect().toSet
    val removed = feed.collect {
      case (k, n, b, "delete") => (k, n, b)
      case (k, n, b, "update_preimage") => (k, n, b)
    }
    val added = feed.collect {
      case (k, n, b, "insert") => (k, n, b)
      case (k, n, b, "update_postimage") => (k, n, b)
    }
    val reconstructed = base.as[(Long, String, Double)].collect().toSet --
      removed ++ added
    assert(reconstructed == merged)
  }

  test("same-ts changes resolve by the tiebreaker") {
    val ties = Seq(
      (1L, "first", 1.0, 1L, 1L, "U"),
      (1L, "last", 2.0, 1L, 2L, "U")).toDF("k", "name", "bal", "ts", "tieb", "op")
    val got = Cdc.latestWinsMerge(base.filter($"k" === 1), ties, "k",
      Seq("ts", "tieb")).as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "last", 2.0)))
  }

  test("malformed ops fail loudly in merge AND feed: NULL or unknown op never silently diverges the two") {
    // ADVICE r15: a winning NULL op fell through every when() branch of
    // latestWinsChanges (both === "D" and =!= "D" are null) and emitted
    // NOTHING, while latestWinsMerge classified the same row — the feed
    // silently diverging from the merge it mirrors. Both now raise.
    val nullOp = Seq((1L, "x", 1.0, 1L, 1L, null.asInstanceOf[String]))
      .toDF("k", "name", "bal", "ts", "tieb", "op")
    val badOp = Seq((1L, "x", 1.0, 1L, 1L, "UPSERT"))
      .toDF("k", "name", "bal", "ts", "tieb", "op")
    Seq(nullOp, badOp).foreach { ch =>
      val e1 = intercept[Exception] {
        Cdc.latestWinsMerge(base, ch, "k", Seq("ts", "tieb")).collect()
      }
      assert(e1.getMessage.contains("changelog ops must be I, U or D"),
        s"merge: ${e1.getMessage.take(200)}")
      val e2 = intercept[Exception] {
        Cdc.latestWinsChanges(base, ch, "k", Seq("ts", "tieb")).collect()
      }
      assert(e2.getMessage.contains("changelog ops must be I, U or D"),
        s"feed: ${e2.getMessage.take(200)}")
    }
    // well-formed ops are untouched by the validation
    val ok = Seq((1L, "x", 1.0, 1L, 1L, "U"))
      .toDF("k", "name", "bal", "ts", "tieb", "op")
    assert(Cdc.latestWinsMerge(base, ok, "k", Seq("ts", "tieb"))
      .count() == 4L)
  }

  test("same-ordering ties rank D > U > I: a same-seq delete+insert deletes, never resurrects (ADVICE r17)") {
    // key 1: D and I share (ts, tieb) exactly — the delete must win,
    // so the key disappears instead of resurrecting as the insert image
    // (the pre-r18 char-compare ranked 'U' > 'I' > 'D' silently).
    // key 2: U and D tie — delete wins. key 4: D ties with two
    // same-seq upserts — delete still wins. A HIGHER seq always beats
    // the rank (key 3: delete at seq 1, upsert at seq 2 → upsert wins).
    val tied = Seq(
      (1L, "zombie", 99.0, 5L, 5L, "I"),
      (1L, "alice", 10.0, 5L, 5L, "D"),
      (2L, "bob9", 29.0, 5L, 5L, "U"),
      (2L, "bob", 20.0, 5L, 5L, "D"),
      (3L, "carol", 30.0, 1L, 1L, "D"),
      (3L, "carol2", 33.0, 2L, 1L, "U"),
      (4L, "dave", 40.0, 5L, 5L, "D"),
      (4L, "daveA", 41.0, 5L, 5L, "U"),
      (4L, "daveB", 42.0, 5L, 5L, "U"))
      .toDF("k", "name", "bal", "ts", "tieb", "op")
    val got = Cdc.latestWinsMerge(base, tied, "k", Seq("ts", "tieb"))
      .as[(Long, String, Double)].collect().toSet
    assert(got == Set((3L, "carol2", 33.0)),
      s"tie rank broken: $got")
    // the change feed mirrors the merge: three deletes + one
    // update pre/post pair, and NO insert for the tied key 1
    val feed = Cdc.latestWinsChanges(base, tied, "k", Seq("ts", "tieb"))
      .groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(feed == Map("delete" -> 3L, "update_preimage" -> 1L,
      "update_postimage" -> 1L), s"feed diverged: $feed")
  }
}
