package graft.streaming

import graft.streaming.StreamOps.{UserEvent, UserStat}
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Batch-equivalence specs: each streaming operator, fed through a
  * MemoryStream in micro-batches (with late/duplicate data where the
  * semantics demand it), must agree with the batch computation over the
  * same rows.
  */
class StreamOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  def ev(id: Long, minute: Int, uid: Long, typ: String, v: Double): UserEvent =
    UserEvent(id, ts(minute), uid, typ, v)

  test("tumbling window agg with watermark equals batch agg on closed windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val out = StreamOps.tumblingCounts(input.toDF(), "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()

    val early = Seq(
      ev(1, 1, 1, "click", 1.0), ev(2, 3, 1, "click", 2.0),
      ev(3, 11, 2, "buy", 5.0), ev(4, 14, 1, "click", 3.0))
    input.addData(early: _*)
    q.processAllAvailable()
    // advance watermark far past both windows, closing them
    input.addData(ev(99, 59, 9, "late-driver", 0.0))
    q.processAllAvailable()

    val got = spark.table("tumbling")
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val want = early.toDF()
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))
      .select(col("w.start"), col("event_type"), col("n"), col("s"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    q.stop()
    assert(got == want)
    assert(got.size == 3) // 10:00 click, 10:10 click, 10:10 buy
  }

  test("sliding window activity equals batch overlapping-window agg") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val out = StreamOps.slidingUserActivity(
      input.toDF(), "10 minutes", "5 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("sliding")
      .outputMode("append").start()

    val early = Seq(
      ev(1, 1, 1, "a", 0), ev(2, 7, 1, "a", 0), ev(3, 12, 2, "a", 0))
    input.addData(early: _*)
    q.processAllAvailable()
    input.addData(ev(99, 59, 9, "late-driver", 0))
    q.processAllAvailable()

    val got = spark.table("sliding")
      .select("window_start", "user_id", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
      .toSet
    val want = early.toDF()
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start"), col("user_id"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
      .toSet
    q.stop()
    assert(got == want)
    // each event lands in windowDur/slide = 2 windows; event at 10:07
    // shares the 10:00 window with the 10:01 event
    assert(got.size == 5)
  }

  test("dropDuplicatesWithinWatermark equals batch distinct-by-id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val out = StreamOps.dedupEvents(input.toDF(), "30 minutes")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()

    input.addData(ev(1, 1, 1, "a", 1.0), ev(2, 2, 1, "a", 1.0))
    q.processAllAvailable()
    input.addData(ev(1, 1, 1, "a", 1.0), ev(3, 4, 2, "b", 2.0)) // id 1 dup
    q.processAllAvailable()

    val got = spark.table("dedup").select("event_id").as[Long].collect().sorted
    q.stop()
    assert(got.toSeq == Seq(1L, 2L, 3L))
  }

  test("stream-static enrich joins each micro-batch against the dim table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "alice", 10), (2L, "bob", 20))
      .toDF("c_custkey", "c_name", "c_nationkey")
    val input = MemoryStream[UserEvent]
    val out = StreamOps.enrichEvents(input.toDF(), dim)
    val q = out.writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()

    input.addData(ev(1, 1, 1, "a", 1.0))
    q.processAllAvailable()
    // second micro-batch: a matching user AND an orphan (uid 9) — the
    // LEFT join must keep the orphan with null dim columns
    input.addData(ev(2, 2, 2, "b", 2.0), ev(3, 3, 9, "c", 3.0))
    q.processAllAvailable()

    val got = spark.table("enrich")
      .select("event_id", "c_name")
      .as[(Long, Option[String])].collect().toMap
    q.stop()
    assert(got == Map(1L -> Some("alice"), 2L -> Some("bob"), 3L -> None))
  }

  test("idempotent foreachBatch sink skips replays and hides torn writes") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("fbsink").toString
    val d1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val d2 = Seq((9L, "REPLAYED-DIFFERENTLY")).toDF("id", "v")

    assert(StreamOps.writeBatchIdempotent(d1, 0L, out))
    // at-least-once replay of batch 0 — even with different data (a
    // non-deterministic upstream), the committed batch must win
    assert(!StreamOps.writeBatchIdempotent(d2, 0L, out))
    val got = StreamOps.readCommitted(spark, out)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b")))

    // torn write: batch dir exists, marker does not -> invisible
    d2.write.mode("overwrite").parquet(s"$out/batch=1")
    val got2 = StreamOps.readCommitted(spark, out)
      .as[(Long, String)].collect().toSet
    assert(got2 == got)
    // and the replay of the torn batch DOES write (no marker yet)
    assert(StreamOps.writeBatchIdempotent(d1, 1L, out))
    assert(StreamOps.readCommitted(spark, out).count() == 4)
  }

  test("session windows merge gapped events per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val out = StreamOps.sessionCounts(input.toDF(), "5 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()

    // user 1: events at 10:01,10:03,10:06 -> one session (gaps < 5m);
    //         event at 10:20 -> second session
    input.addData(ev(1, 1, 1, "a", 0), ev(2, 3, 1, "a", 0),
      ev(3, 6, 1, "a", 0), ev(4, 20, 1, "a", 0))
    q.processAllAvailable()
    input.addData(ev(99, 59, 9, "late-driver", 0))
    q.processAllAvailable()

    val got = spark.table("sessions")
      .filter(col("user_id") === 1)
      .select("n_events").as[Long].collect().sorted.toSeq
    q.stop()
    assert(got == Seq(1L, 3L))
  }

  test("stream-stream interval join equals the batch range join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[UserEvent]
    val buys = MemoryStream[UserEvent]
    val out = StreamOps.intervalJoin(clicks.toDF(), buys.toDF(),
      "30 minutes", maxGapHours = 1)
    val q = out.writeStream.format("memory").queryName("ivjoin")
      .outputMode("append").start()

    // user 1: click at 10:05; buys at 10:10 (match, delivered in a LATER
    // micro-batch than the click) and 10:04 (before the click — no match)
    // user 2: click at 10:20, buy at 10:30 (match)
    clicks.addData(ev(1, 5, 1, "click", 0), ev(2, 20, 2, "click", 0))
    buys.addData(ev(10, 4, 1, "purchase", 0))
    q.processAllAvailable()
    buys.addData(ev(11, 10, 1, "purchase", 0), ev(12, 30, 2, "purchase", 0))
    q.processAllAvailable()

    val got = spark.table("ivjoin")
      .select("left_id", "right_id", "user_id")
      .as[(Long, Long, Long)].collect().toSet
    q.stop()
    assert(got == Set((1L, 11L, 1L), (2L, 12L, 2L)))
  }

  test("flatMapGroupsWithState burst alerts carry the count across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val out = StreamOps.burstAlerts(input.toDS(), maxEvents = 3)
    val q = out.writeStream.format("memory").queryName("alerts")
      .outputMode("append").start()

    input.addData((1 to 2).map(i => ev(i, i, 1, "a", 0)): _*) // user 1: 2
    q.processAllAvailable()
    assert(spark.table("alerts").count() == 0) // below threshold
    // 2 more in a LATER batch: counter must resume at 2, alert on 4th
    input.addData(ev(3, 3, 1, "a", 0), ev(4, 4, 1, "a", 0))
    q.processAllAvailable()
    val got = spark.table("alerts")
      .as[StreamOps.BurstAlert].collect().toSet
    q.stop()
    assert(got == Set(StreamOps.BurstAlert(1L, 4L, 4L)))
  }

  test("incremental DIRT triples equal the batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      "die\tpatients/NNS/nsubj/2 die/VBP/ROOT/0 from/IN/prep/2 cancer/NN/pobj/3\t10",
      "die\tpeople/NNS/nsubj/2 die/VBP/ROOT/0 from/IN/prep/2 smoking/NN/pobj/3\t5",
      "die\tpatients/NNS/nsubj/2 die/VBP/ROOT/0 of/IN/prep/2 cancer/NN/pobj/3\t7",
      "suffer\tpatients/NNS/nsubj/2 suffer/VBP/ROOT/0 from/IN/prep/2 cancer/NN/pobj/3\t4")

    val input = MemoryStream[String]
    val q = DirtStreaming.streamingTriples(input.toDS())
      .writeStream.format("memory").queryName("dirt_triples")
      .outputMode("complete").start()
    // the same corpus arriving in two micro-batches (state accumulates
    // the weighted counts across them)
    input.addData(corpus.take(2): _*)
    q.processAllAvailable()
    input.addData(corpus.drop(2): _*)
    q.processAllAvailable()

    val streamed = spark.table("dirt_triples")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    // streaming state is exactly the distinct triple keys — bounded by
    // vocabulary, never by corpus length (the contract that lets the
    // incremental pipeline run forever on an unbounded corpus stream)
    val stateRows = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsTotal)).max
    q.stop()

    val batch = graft.pipeline.DirtPipeline.triples(
      graft.pipeline.DirtPipeline.extractInstances(
        graft.pipeline.DirtPipeline.parseCorpus(spark.createDataset(corpus))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet

    assert(streamed == batch)
    assert(streamed.nonEmpty)
    assert(stateRows == streamed.size.toLong,
      s"state rows $stateRows != distinct triples ${streamed.size}")
  }

  test("mapGroupsWithState running stats equal batch groupBy across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val out = StreamOps.runningUserStats(input.toDS())
    val q = out.writeStream.format("memory").queryName("running")
      .outputMode("update").start()

    input.addData(ev(1, 1, 1, "a", 1.5), ev(2, 2, 1, "a", 2.5),
      ev(3, 3, 2, "b", 10.0))
    q.processAllAvailable()
    input.addData(ev(4, 4, 1, "a", 6.0), ev(5, 5, 2, "b", 0.5))
    q.processAllAvailable()

    // last update per user wins
    val got = spark.table("running").as[UserStat].collect()
      .groupBy(_.user_id).map { case (u, rows) =>
        u -> rows.maxBy(_.n_events)
      }
    q.stop()
    assert(got(1L) == UserStat(1L, 3L, 10.0))
    assert(got(2L) == UserStat(2L, 2L, 10.5))
  }

  test("transformWithState running stats equals the mapGroupsWithState twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the new API requires the RocksDB state store; scope it to this query
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[UserEvent]
      val out = StreamOps.runningUserStatsTws(input.toDS())
      val q = out.writeStream.format("memory").queryName("running_tws")
        .outputMode("update").start()

      input.addData(ev(1, 1, 1, "a", 1.5), ev(2, 2, 1, "a", 2.5),
        ev(3, 3, 2, "b", 10.0))
      q.processAllAvailable()
      input.addData(ev(4, 4, 1, "a", 6.0), ev(5, 5, 2, "b", 0.5))
      q.processAllAvailable()

      val got = spark.table("running_tws").as[UserStat].collect()
        .groupBy(_.user_id).map { case (u, rows) =>
          u -> rows.maxBy(_.n_events)
        }
      q.stop()
      // same final stats the mapGroupsWithState twin asserts above —
      // cross-micro-batch state carried, unrounded in state
      assert(got(1L) == UserStat(1L, 3L, 10.0))
      assert(got(2L) == UserStat(2L, 2L, 10.5))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
