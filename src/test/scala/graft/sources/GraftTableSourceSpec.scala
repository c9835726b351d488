package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraftTable
import graft.util.Sessions

/** [[org.apache.spark.sql.graft.GraftTableSource]] — the table format
  * as a streaming SOURCE: a fresh checkpoint serves the full history
  * as change rows (initial snapshot as inserts, then classified
  * changes), and a SECOND run on the SAME checkpoint serves ONLY the
  * versions committed in between — the offset log carries table
  * versions, so restart-resume is exact.
  */
class GraftTableSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private val Fmt = "org.apache.spark.sql.graft.GraftTableSourceProvider"

  private def freshDir(): String = {
    val d = java.nio.file.Files
      .createTempDirectory("graft_src_").toString
    new java.io.File(d).delete()
    d
  }

  /** AvailableNow run of the feed into a parquet dir via foreachBatch
    * (the memory sink cannot recover from a checkpoint, and
    * checkpointed RESUME is exactly what these tests pin).
    */
  private def runAvailableNow(root: String, ckpt: String,
      outDir: String): Unit = {
    val q = spark.readStream.format(Fmt).option("path", root).load()
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(outDir)
          ()
      }
      .start()
    q.awaitTermination()
  }

  test("fresh checkpoint serves the full change history; same checkpoint resumes at the next version") {
    import spark.implicits._
    val base = freshDir()
    val root = s"$base/table"
    val ckpt = s"$base/ckpt"

    val v0 = GraftTable.create(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .toDF("k", "name", "bal"), root)
    val changes = Seq(
      (2L, "b2", 20.0, "U", 1L),
      (3L, "c", 3.0, "D", 1L),
      (4L, "d", 4.0, "I", 1L)).toDF("k", "name", "bal", "op", "seq")
    GraftTable.merge(root, changes, "k", Seq("seq"), v0)

    runAvailableNow(root, ckpt, s"$base/out1")
    val got1 = spark.read.parquet(s"$base/out1")
      .select("k", "name", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(got1 == Set(
      (1L, "a", "insert", 0L),
      (2L, "b", "insert", 0L),
      (3L, "c", "insert", 0L),
      (2L, "b", "update_preimage", 1L),
      (2L, "b2", "update_postimage", 1L),
      (3L, "c", "delete", 1L),
      (4L, "d", "insert", 1L)))

    // commit one more version while the stream is down...
    GraftTable.append(Seq((5L, "e", 5.0)).toDF("k", "name", "bal"),
      root, expectedVersion = 1L)
    // ...and a compaction, which must contribute NOTHING to the feed
    GraftTable.compact(spark, root, expectedVersion = 2L)

    // the SAME checkpoint resumes: only v2's insert arrives (v3 is a
    // compact); nothing from v0/v1 is replayed
    runAvailableNow(root, ckpt, s"$base/out2")
    val got2 = spark.read.parquet(s"$base/out2")
      .select("k", "name", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(got2 == Set((5L, "e", "insert", 2L)))
  }

  test("streaming the feed into an aggregate reconstructs the latest snapshot incrementally") {
    import spark.implicits._
    val base = freshDir()
    val root = s"$base/table"

    val v0 = GraftTable.create(
      (1L to 50L).map(i => (i, i * 10.0)).toDF("k", "v"), root)
    val changes = ((1L to 50L).filter(_ % 7 == 0)
      .map(k => (k, 0.0, "D", 1L)) ++
      (1L to 50L).filter(k => k % 7 != 0 && k % 5 == 0)
        .map(k => (k, k * 100.0, "U", 1L)) ++
      Seq((99L, 990.0, "I", 1L)))
      .toDF("k", "v", "op", "seq")
    GraftTable.merge(root, changes, "k", Seq("seq"), v0)

    // replay the feed in _commit_version order: latest non-delete image
    // per key = the snapshot (the downstream-materialization contract)
    runAvailableNow(root, s"$base/ckpt", s"$base/out3")
    val replayed = spark.read.parquet(s"$base/out3")
      .filter(col("_change_type") =!= lit("update_preimage"))
      .groupBy("k")
      .agg(max(struct(col("_commit_version"), col("_change_type"),
        col("v"))).as("w"))
      .filter(col("w._change_type") =!= lit("delete"))
      .select(col("k"), col("w.v").as("v"))
      .as[(Long, Double)].collect().toSet
    val snapshot = GraftTable.read(spark, root)
      .as[(Long, Double)].collect().toSet
    assert(replayed == snapshot)
  }

  test("streaming from a missing table fails loudly") {
    val e = intercept[Exception] {
      spark.readStream.format(Fmt)
        .option("path", s"${freshDir()}/nope").load()
    }
    assert(e.getMessage.contains("no committed versions"))
  }

  test("stream start reads O(1) manifests, not the whole log") {
    import spark.implicits._
    val base = freshDir()
    val root = s"$base/table"
    GraftTable.create(Seq((0L, "n0")).toDF("k", "name"), root)
    (1L to 40L).foreach { v =>
      GraftTable.append(Seq((v, s"n$v")).toDF("k", "name").coalesce(1),
        root, expectedVersion = v - 1L)
    }
    // schema resolution at (re)start — sourceSchema + createSource —
    // must be O(1) manifest reads (r15 read all V manifests via
    // history() just to fetch the latest schema). The counter pins it:
    // load() resolves the schema once per DataStreamReader plus once
    // when the source is constructed; getBatch's own manifest reads
    // are proportional to the SERVED range, not the log.
    GraftTable.manifestReadCount.set(0L)
    val df = spark.readStream.format(Fmt).option("path", root).load()
    val startReads = GraftTable.manifestReadCount.get()
    assert(startReads <= 4L,
      s"stream-start schema resolution read $startReads manifests " +
        "for a 41-version log")
    assert(df.schema.fieldNames.toSeq ==
      Seq("k", "name", "_change_type", "_commit_version"))
  }

  test("recovery batch over a pre-evolution range null-fills the added column instead of wedging the checkpoint") {
    import spark.implicits._
    val base = freshDir()
    val root = s"$base/table"
    val v0 = GraftTable.create(Seq((1L, "a")).toDF("k", "name"), root)
    // the ADVICE r15 wedge, reproduced end to end: run 1 WAL-commits
    // batch 0 (versions [0,0], pre-evolution) then CRASHES before the
    // engine records it processed; an appendEvolve lands while the
    // stream is down; the restart replays the WAL batch with schema0
    // recomputed from the LATEST manifest — which now carries `score`.
    // Selecting the missing column threw an AnalysisException on every
    // restart (the recovery batch's offsets never change), permanently
    // wedging the checkpoint. The source must null-fill instead.
    val crash = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format(Fmt).option("path", root).load()
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch {
          (_: org.apache.spark.sql.DataFrame, _: Long) =>
            throw new RuntimeException("simulated crash after WAL commit")
        }
        .start()
      q.awaitTermination()
    }
    assert(crash.getMessage.contains("simulated crash"))
    GraftTable.appendEvolve(
      Seq((2L, "b", 5.0)).toDF("k", "name", "score"), root, v0)
    // restart on the SAME checkpoint: the recovery batch (pre-evolution
    // range) must serve with `score` null-filled. (An AvailableNow
    // restart processes exactly the WAL recovery batch then stops —
    // engine behavior; the next run serves the evolution version.)
    runAvailableNow(root, s"$base/ckpt", s"$base/out")
    val got = spark.read.parquet(s"$base/out")
      .select("k", "score", "_change_type", "_commit_version")
      .as[(Long, Option[Double], String, Long)].collect().toSet
    assert(got == Set((1L, None, "insert", 0L)))
    // the checkpoint is NOT wedged: the following run serves v1's
    // insert with the real column values
    runAvailableNow(root, s"$base/ckpt", s"$base/out_next")
    val next = spark.read.parquet(s"$base/out_next")
      .select("k", "score", "_change_type", "_commit_version")
      .as[(Long, Option[Double], String, Long)].collect().toSet
    assert(next == Set((2L, Some(5.0), "insert", 1L)))
  }

  test("startingVersion positions a fresh checkpoint; 'latest' serves only post-start commits; existing checkpoints win") {
    import spark.implicits._
    val base = freshDir()
    val root = s"$base/table"
    val v0 = GraftTable.create(Seq((1L, "a")).toDF("k", "name"), root)
    val v1 = GraftTable.append(Seq((2L, "b")).toDF("k", "name"), root, v0)
    val v2 = GraftTable.append(Seq((3L, "c")).toDF("k", "name"), root, v1)

    def run(ckpt: String, out: String, opts: Map[String, String]): Unit = {
      val reader = spark.readStream.format(Fmt).option("path", root)
      val q = opts.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
        .load()
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.write.mode("append").parquet(out)
            ()
        }
        .start()
      q.awaitTermination()
    }

    // numeric: serve from v1, skipping the initial snapshot
    run(s"$base/ck_v1", s"$base/out_v1",
      Map("startingVersion" -> v1.toString))
    val got = spark.read.parquet(s"$base/out_v1")
      .select("k", "_commit_version")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((2L, v1), (3L, v2)))

    // 'latest': nothing historic; only commits made after stream start
    run(s"$base/ck_latest", s"$base/out_latest",
      Map("startingVersion" -> "latest"))
    assert(!new java.io.File(s"$base/out_latest").exists() ||
      spark.read.parquet(s"$base/out_latest").isEmpty)
    val v3 = GraftTable.append(Seq((4L, "d")).toDF("k", "name"), root, v2)
    run(s"$base/ck_latest", s"$base/out_latest2",
      Map("startingVersion" -> "latest"))
    val late = spark.read.parquet(s"$base/out_latest2")
      .select("k", "_commit_version")
      .as[(Long, Long)].collect().toSet
    assert(late == Set((4L, v3)),
      s"'latest' consumer served historic versions: $late")

    // an existing checkpoint wins over a (changed) startingVersion
    run(s"$base/ck_v1", s"$base/out_resume",
      Map("startingVersion" -> "0"))
    val resumed = spark.read.parquet(s"$base/out_resume")
      .select("k", "_commit_version")
      .as[(Long, Long)].collect().toSet
    assert(resumed == Set((4L, v3)),
      s"resume re-served already-committed versions: $resumed")

    // validation
    intercept[Exception] {
      run(s"$base/ck_bad", s"$base/out_bad",
        Map("startingVersion" -> "nope"))
    }
  }

  test("a startingVersion ahead of the table's head holds for every future batch, across restarts") {
    import spark.implicits._
    val base = freshDir()
    val root = s"$base/table"
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    GraftTable.create(Seq((0L, "n0")).toDF("k", "name"), root)
    (1L to 2L).foreach { v =>
      GraftTable.append(Seq((v, s"n$v")).toDF("k", "name"), root, v - 1L)
    }
    def served(): Set[Long] =
      if (!new java.io.File(out).exists()) Set.empty
      else spark.read.parquet(out).select("_commit_version")
        .as[Long].collect().toSet
    // stream starts at version 6 — ahead of latest (2)
    def run(): Unit = {
      val q = spark.readStream.format(Fmt).option("path", root)
        .option("startingVersion", "6").load()
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.write.mode("append").parquet(out)
            ()
        }
        .start()
      q.awaitTermination()
    }
    run()
    assert(served().isEmpty)
    // versions 3..4 appear while the stream is down: they are BELOW
    // the pinned starting version and must STAY skipped (ADVICE r16:
    // pre-fix, the floor was forgotten after the first batch committed
    // an offset, and 3..4 leaked into the next run)
    (3L to 4L).foreach { v =>
      GraftTable.append(Seq((v, s"n$v")).toDF("k", "name"), root, v - 1L)
    }
    run()
    assert(served().isEmpty,
      s"versions below startingVersion leaked in: ${served()}")
    // versions 5..7: only 6 and 7 are at/after the pinned start
    (5L to 7L).foreach { v =>
      GraftTable.append(Seq((v, s"n$v")).toDF("k", "name"), root, v - 1L)
    }
    run()
    assert(served() == Set(6L, 7L), s"served ${served()}")
  }

  test("maxVersionsPerTrigger: a 40-version backlog is served in exactly 4 bounded batches; a mid-catch-up restart resumes the cadence") {
    import spark.implicits._
    val base = freshDir()
    val root = s"$base/table"
    GraftTable.create(Seq((0L, "n0")).toDF("k", "name"), root)
    (1L to 39L).foreach { v =>
      GraftTable.append(Seq((v, s"n$v")).toDF("k", "name").coalesce(1),
        root, expectedVersion = v - 1L)
    }
    val batches =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    def drain(ckpt: String): Unit = {
      val q = spark.readStream.format(Fmt).option("path", root)
        .option("maxVersionsPerTrigger", "10").load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (df: org.apache.spark.sql.DataFrame, id: Long) =>
            val vs = df.select("_commit_version").distinct()
              .collect().map(_.getLong(0)).toSet
            batches.synchronized { batches += ((id, vs)); () }
            ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      q.awaitTermination()
    }
    drain(s"$base/ckpt1")
    val nonEmpty = batches.filter(_._2.nonEmpty).toSeq
    assert(nonEmpty.map(_._2) == Seq(
      (0L to 9L).toSet, (10L to 19L).toSet,
      (20L to 29L).toSet, (30L to 39L).toSet),
      s"catch-up was not 4 exact bounded batches: $nonEmpty")

    // mid-catch-up restart: AvailableNow snapshots ONE capped offset →
    // run 1 serves exactly versions 0..9 then stops; the restart must
    // resume at 10 with the same cadence, nothing re-served or skipped
    batches.clear()
    val q1 = spark.readStream.format(Fmt).option("path", root)
      .option("maxVersionsPerTrigger", "10").load()
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt2")
      .foreachBatch {
        (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val vs = df.select("_commit_version").distinct()
            .collect().map(_.getLong(0)).toSet
          batches.synchronized { batches += ((id, vs)); () }
          ()
      }
      .start()
    q1.awaitTermination()
    assert(batches.filter(_._2.nonEmpty).map(_._2).toSeq ==
      Seq((0L to 9L).toSet),
      s"first capped run served: $batches")
    batches.clear()
    drain(s"$base/ckpt2")
    assert(batches.filter(_._2.nonEmpty).map(_._2).toSeq == Seq(
      (10L to 19L).toSet, (20L to 29L).toSet, (30L to 39L).toSet),
      s"restart did not resume the bounded cadence: $batches")
  }

  test("maxFilesPerTrigger: ONE 40-file version drains in 4 exact file-sliced batches; a mid-version restart resumes at the file offset") {
    import spark.implicits._
    val base = freshDir()
    val root = s"$base/table"
    // 400 rows range-partitioned into 40 ten-row files, ONE version —
    // the giant-append shape maxVersionsPerTrigger cannot bound
    val df = (0L until 400L).map(i => (i, s"n$i")).toDF("k", "name")
      .repartitionByRange(40, col("k"))
    GraftTable.create(df, root)
    assert(GraftTable.manifest(spark, root, 0L).files.size == 40,
      "fixture must stage exactly 40 files")
    val batches =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    def collect(df: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val ks = df.select("k").collect().map(_.getLong(0)).toSet
      batches.synchronized { batches += ((id, ks)); () }
      ()
    }
    def drain(ckpt: String, availableNow: Boolean = false): Unit = {
      val w = spark.readStream.format(Fmt).option("path", root)
        .option("maxFilesPerTrigger", "10").load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(collect _)
      val q = (if (availableNow) w.trigger(Trigger.AvailableNow())
        else w).start()
      if (availableNow) q.awaitTermination()
      else { q.processAllAvailable(); q.stop(); q.awaitTermination() }
    }
    drain(s"$base/ckpt1")
    val got = batches.filter(_._2.nonEmpty).map(_._2).toSeq
    // exact file partitions: files are range-partitioned in key order,
    // so batch i is precisely files [10i, 10i+10) = keys [100i, 100i+100)
    assert(got == Seq((0L until 100L).toSet, (100L until 200L).toSet,
      (200L until 300L).toSet, (300L until 400L).toSet),
      s"catch-up was not 4 exact file-sliced batches: ${got.map(_.size)}")

    // mid-version restart: AvailableNow snapshots ONE capped offset —
    // the run serves files [0,10) and stops with the offset holding an
    // INTRA-VERSION file index; the restart resumes at file 10, nothing
    // re-served or skipped
    batches.clear()
    drain(s"$base/ckpt2", availableNow = true)
    assert(batches.filter(_._2.nonEmpty).map(_._2).toSeq ==
      Seq((0L until 100L).toSet),
      s"first capped run served: ${batches.map(_._2.size)}")
    val offsetJson = {
      val f = new java.io.File(s"$base/ckpt2/offsets/0")
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").last.trim
    }
    assert(offsetJson == "0:10",
      s"offset must record the intra-version file index, got '$offsetJson'")
    batches.clear()
    drain(s"$base/ckpt2")
    assert(batches.filter(_._2.nonEmpty).map(_._2).toSeq ==
      Seq((100L until 200L).toSet, (200L until 300L).toSet,
        (300L until 400L).toSet),
      s"restart did not resume at the file offset: ${batches.map(_._2.size)}")
  }

  test("file admission slices ACROSS versions and composes with byte caps; uncapped checkpoints stay bare-number offsets") {
    import spark.implicits._
    val base = freshDir()
    val root = s"$base/table"
    // two 4-file versions of 40 rows each
    val mk = (lo: Long) => (lo until lo + 40L).map(i => (i, s"n$i"))
      .toDF("k", "name").repartitionByRange(4, col("k"))
    GraftTable.create(mk(0L), root)
    GraftTable.append(mk(40L), root, 0L)
    assert(GraftTable.history(spark, root)
      .forall(_.files.count(_.startsWith(f"data/v${0L}%08d-")) <= 4))
    val batches =
      scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    def drain(opts: Map[String, String], ckpt: String): Unit = {
      val r = spark.readStream.format(Fmt).option("path", root)
      val q = opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }
        .load().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (df: org.apache.spark.sql.DataFrame, _: Long) =>
            val ks = df.select("k").collect().map(_.getLong(0)).toSet
            batches.synchronized { batches += ks; () }
            ()
        }
        .start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
    }
    // 6-file cap: batch 1 = all 4 files of v0 + first 2 of v1 (the
    // slice crosses the version boundary), batch 2 = the remainder
    drain(Map("maxFilesPerTrigger" -> "6"), s"$base/ckpt1")
    val got = batches.filter(_.nonEmpty).toSeq
    assert(got == Seq((0L until 60L).toSet, (60L until 80L).toSet),
      s"cross-version slicing broken: ${got.map(_.size)}")

    // byte cap check-before-add: cap 1 byte still admits one file per
    // batch (progress guaranteed), so 8 files = 8 batches of 10 rows
    batches.clear()
    drain(Map("maxBytesPerTrigger" -> "1"), s"$base/ckpt2")
    val byteBatches = batches.filter(_.nonEmpty).toSeq
    assert(byteBatches.size == 8 && byteBatches.forall(_.size == 10),
      s"byte cap must admit exactly one file per batch: ${byteBatches.map(_.size)}")

    // an UNCAPPED stream's offsets stay bare version numbers — the
    // pre-file-admission checkpoint format, byte-identical
    batches.clear()
    drain(Map.empty, s"$base/ckpt3")
    val off = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$base/ckpt3/offsets/0").toPath), "UTF-8")
      .split("\n").last.trim
    assert(off == "1", s"uncapped offset format changed: '$off'")
    assert(batches.filter(_.nonEmpty).map(_.size).sum == 80)
  }

  test("format() sink: micro-batches land as atomic versions, a checkpoint restart replays as a no-op, a fresh checkpoint is a fresh writer") {
    import spark.implicits._
    val base = freshDir()
    val inDir = s"$base/in"
    (1L to 8L).map(i => (i, s"n$i")).toDF("k", "name")
      .repartition(4).write.parquet(inDir)
    val root = s"$base/table"
    val schema = spark.read.parquet(inDir).schema

    def ingest(ckpt: String): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .writeStream.format(Fmt)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .option("path", root)
        .start()
      q.awaitTermination()
    }

    ingest(s"$base/ckpt1")
    val rows = GraftTable.read(spark, root).count()
    assert(rows == 8L)
    val versions = GraftTable.latestVersion(spark, root) + 1
    assert(versions >= 2, "expected one version per micro-batch")
    // same checkpoint, nothing new: the file source serves zero
    // batches and the table is untouched (the WAL-replay path itself
    // is pinned below via the recorded writer id, and in
    // CommitLogSpec)
    ingest(s"$base/ckpt1")
    assert(GraftTable.read(spark, root).count() == 8L)
    assert(GraftTable.latestVersion(spark, root) + 1 == versions,
      "checkpoint-pinned replays added versions")
    // a FRESH checkpoint mints a new query id = new writer: its batch
    // ids restart at 0 and must NOT be swallowed by the first writer's
    // watermark (they append duplicate rows here, which is exactly
    // at-least-once-without-a-checkpoint semantics — the caller's
    // checkpoint IS the exactly-once boundary)
    ingest(s"$base/ckpt2")
    assert(GraftTable.read(spark, root).count() == 16L,
      "fresh-checkpoint writer was swallowed by the old watermark")
    val txns = GraftTable.manifest(spark, root,
      GraftTable.latestVersion(spark, root)).txns
    assert(txns.size == 2, s"expected two writer ids, got $txns")
    // replaying an already-committed batch id under an EXISTING writer
    // id (the option("appId", ...) escape hatch for logical-continuation
    // queries) is a no-op
    assert(!GraftTable.appendBatchIdempotent(
      Seq((99L, "x")).toDF("k", "name"), 0L, root, txns.keys.head))
    assert(GraftTable.read(spark, root).count() == 16L)
  }

  test("update-mode sink: per-batch ACID upserts, within-batch collapse by ordering, replay no-op, append mode rejects mergeKey") {
    import spark.implicits._
    val base = freshDir()
    val stage = s"$base/stage"
    val root = s"$base/table"
    val ckpt = s"$base/ckpt"

    def drain(): Unit = {
      val q = spark.readStream.format(Fmt).option("path", stage).load()
        .select("k", "seq", "name")
        .writeStream.format(Fmt)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .option("path", root)
        .option("mergeKey", "k")
        .option("mergeOrdering", "seq")
        .start()
      q.awaitTermination()
    }
    def snap(): Map[Long, (Long, String)] =
      GraftTable.read(spark, root)
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap

    // batch 1 (CREATE): within-batch duplicate of k=1 collapses by seq
    GraftTable.create(
      Seq((1L, 1L, "a1-stale"), (1L, 2L, "a1"), (2L, 1L, "b1"))
        .toDF("k", "seq", "name"), stage)
    drain()
    assert(snap() == Map(1L -> (2L, "a1"), 2L -> (1L, "b1")))
    // batch 2: cross-batch upsert of k=1, insert of k=3
    GraftTable.append(
      Seq((1L, 3L, "a2"), (3L, 1L, "c1")).toDF("k", "seq", "name"),
      stage, 0L)
    drain()
    assert(snap() == Map(1L -> (3L, "a2"), 2L -> (1L, "b1"),
      3L -> (1L, "c1")))
    assert(GraftTable.latestVersion(spark, root) == 1L)
    assert(GraftTable.history(spark, root).map(_.op) ==
      Seq("CREATE", "MERGE"))
    // the upsert version's change feed classified the cross-batch
    // update and the insert
    val feed = GraftTable.readChanges(spark, root, 1L, 1L)
      .select("k", "name", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(feed == Set(
      (1L, "a1", "update_preimage"), (1L, "a2", "update_postimage"),
      (3L, "c1", "insert")))
    // drained re-run: no new version
    drain()
    assert(GraftTable.latestVersion(spark, root) == 1L)
    // direct replay under the recorded writer id is a no-op
    val appId = GraftTable.manifest(spark, root, 1L).txns.keys.head
    assert(!GraftTable.mergeBatchIdempotent(
      Seq((9L, 9L, "x")).toDF("k", "seq", "name"), 0L, root, appId,
      "k", Seq("seq")))
    assert(snap().size == 3)
    // a FRESH batch id under the same writer commits
    assert(GraftTable.mergeBatchIdempotent(
      Seq((2L, 5L, "b9")).toDF("k", "seq", "name"), 7L, root, appId,
      "k", Seq("seq")))
    assert(snap()(2L) == (5L, "b9"))
    // append mode rejects the update-mode option loudly
    val e = intercept[Exception] {
      spark.readStream.format(Fmt).option("path", stage).load()
        .select("k", "seq", "name")
        .writeStream.format(Fmt)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt2")
        .option("path", s"$base/t2")
        .option("mergeKey", "k")
        .start()
    }
    assert(e.getMessage.contains("update"))
  }

  test("update-mode sink with mergeOp: a CDC stream's deletes flow through; the op column is not stored") {
    import spark.implicits._
    val base = freshDir()
    val stage = s"$base/stage"
    val root = s"$base/table"
    def drain(): Unit = {
      val q = spark.readStream.format(Fmt).option("path", stage).load()
        .select("k", "seq", "name", "op")
        .writeStream.format(Fmt)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .option("path", root)
        .option("mergeKey", "k")
        .option("mergeOrdering", "seq")
        .option("mergeOp", "op")
        .start()
      q.awaitTermination()
    }
    // batch 1: two inserts (CDC insert images)
    GraftTable.create(
      Seq((1L, 1L, "a1", "I"), (2L, 1L, "b1", "I"))
        .toDF("k", "seq", "name", "op"), stage)
    drain()
    assert(GraftTable.read(spark, root).columns.toSeq ==
      Seq("k", "seq", "name"), "the op column leaked into the table")
    // batch 2: update k=1, DELETE k=2, insert k=3 — a real changelog
    GraftTable.append(
      Seq((1L, 2L, "a2", "U"), (2L, 2L, "b1", "D"), (3L, 1L, "c1", "I"))
        .toDF("k", "seq", "name", "op"), stage, 0L)
    drain()
    val got = GraftTable.read(spark, root)
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set((1L, 2L, "a2"), (3L, 1L, "c1")),
      s"CDC deletes/updates misapplied: $got")
    // the upsert version's own feed classifies the delete with its
    // pre-image
    val feed = GraftTable.readChanges(spark, root, 1L, 1L)
      .select("k", "name", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(feed == Set(
      (1L, "a1", "update_preimage"), (1L, "a2", "update_postimage"),
      (2L, "b1", "delete"), (3L, "c1", "insert")))
    // replay under the recorded writer id: no-op
    val appId = GraftTable.manifest(spark, root, 1L).txns.keys.head
    assert(!GraftTable.mergeBatchIdempotent(
      Seq((9L, 9L, "x", "I")).toDF("k", "seq", "name", "op"),
      0L, root, appId, "k", Seq("seq"), opCol = Some("op")))
    assert(GraftTable.read(spark, root).count() == 2L)
  }

  test("update-mode sink on a stats-partitioned table goes through the file-pruned merge") {
    import spark.implicits._
    val base = freshDir()
    val stage = s"$base/stage"
    val root = s"$base/table"
    // pre-created, range-partitioned on the merge key: the sink's
    // upserts must rewrite only the files containing batch keys
    GraftTable.createPartitioned(
      (1L to 1000L).map(i => (i, 0L, s"n$i")).toDF("k", "seq", "name"),
      root, "k", numFiles = 8)
    val before = GraftTable.history(spark, root).head
    GraftTable.create(
      Seq((5L, 1L, "u5"), (7L, 1L, "u7")).toDF("k", "seq", "name"), stage)
    val q = spark.readStream.format(Fmt).option("path", stage).load()
      .select("k", "seq", "name")
      .writeStream.format(Fmt)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt")
      .option("path", root)
      .option("mergeKey", "k")
      .option("mergeOrdering", "seq")
      .start()
    q.awaitTermination()
    val after = GraftTable.history(spark, root).last
    assert(after.op == "MERGE")
    val carried = after.files.toSet.intersect(before.files.toSet)
    assert(carried.nonEmpty,
      "update-mode sink rewrote the whole table on a prunable merge")
    assert(GraftTable.read(spark, root).count() == 1000L)
    assert(GraftTable.read(spark, root).filter($"k" === 5L)
      .select("name").head().getString(0) == "u5")
  }

  test("update-mode sink with deletionVectors: point upserts rewrite ZERO files per batch, masks accumulate, snapshot exact") {
    import spark.implicits._
    val base = freshDir()
    val stage = s"$base/stage"
    val root = s"$base/table"
    GraftTable.createPartitioned(
      (1L to 1000L).map(i => (i, 0L, s"n$i")).toDF("k", "seq", "name"),
      root, "k", numFiles = 8)
    val before = GraftTable.history(spark, root).head
    GraftTable.create(
      Seq((5L, 1L, "u5"), (905L, 1L, "u905")).toDF("k", "seq", "name"),
      stage)
    val q = spark.readStream.format(Fmt).option("path", stage).load()
      .select("k", "seq", "name")
      .writeStream.format(Fmt)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt")
      .option("path", root)
      .option("mergeKey", "k")
      .option("mergeOrdering", "seq")
      .option("deletionVectors", "true")
      .start()
    q.awaitTermination()
    val after = GraftTable.history(spark, root).last
    assert(after.op == "MERGE")
    // every original file carried; only winner-image files added
    assert(before.files.forall(after.files.contains),
      "DV sink rewrote a data file")
    // two masked rows across the two touched files
    assert(after.dvs.values.flatten
      .map(r => r._2 - r._1 + 1).sum == 2L,
      s"expected 2 masked rows: ${after.dvs}")
    assert(GraftTable.read(spark, root).count() == 1000L)
    assert(GraftTable.read(spark, root)
      .filter($"k".isin(5L, 905L)).select("name")
      .collect().map(_.getString(0)).toSet == Set("u5", "u905"))
  }

  test("in-stream evolution: the running query projects the pinned schema; restart serves the added column") {
    import spark.implicits._
    val base = freshDir()
    val root = s"$base/table"
    val ckpt = s"$base/ckpt"
    val v0 = GraftTable.create(Seq((1L, "a")).toDF("k", "name"), root)
    runAvailableNow(root, ckpt, s"$base/out1")
    // the table evolves while (conceptually mid-run for a continuous
    // trigger) the stream's schema is pinned to (k, name)
    GraftTable.appendEvolve(
      Seq((2L, "b", 7.5)).toDF("k", "name", "score"), root, v0)
    GraftTable.append(
      Seq((3L, "c", 9.5)).toDF("k", "name", "score"), root, 1L)
    // same checkpoint, restarted query: schema re-resolves, the added
    // column arrives with its committed values (Delta's
    // pin-per-run/refresh-at-restart contract)
    runAvailableNow(root, ckpt, s"$base/out2")
    val got = spark.read.parquet(s"$base/out2")
      .select("k", "score", "_commit_version")
      .as[(Long, Option[Double], Long)].collect().toSet
    assert(got == Set((2L, Some(7.5), 1L), (3L, Some(9.5), 2L)))
  }

  test("statsColumns option: a sink-CREATED table is prunable — the first batch commits the stats layout, later DV batches rewrite zero files, mismatches refuse") {
    import spark.implicits._
    val base = freshDir()
    val root = s"$base/table"

    def writeBatch(data: org.apache.spark.sql.DataFrame,
        batchId: Long): Unit = {
      val sink = new org.apache.spark.sql.graft.GraftTableSink(
        spark.sqlContext, root, Some("w1"),
        merge = Some(("k", Seq("seq"))),
        deletionVectors = true, statsColumns = Seq("k"))
      sink.addBatch(batchId, data)
    }
    // first batch CREATES the table — with the stats layout
    writeBatch((1L to 1000L).map(i => (i, s"n$i", i))
      .toDF("k", "name", "seq"), 0L)
    val h0 = GraftTable.manifest(spark, root, 0L)
    assert(h0.statsCols == Seq("k"), s"stats layout lost: ${h0.statsCols}")
    assert(h0.files.forall(f => h0.ranges.contains(f)),
      "sink-created table must carry per-file ranges")
    // second batch: a 1-row upsert goes down the DV path (possible
    // ONLY because the sink-created table has stats) — zero rewrites
    writeBatch(Seq((500L, "upd", 2000L)).toDF("k", "name", "seq"), 1L)
    val h1 = GraftTable.manifest(spark, root, 1L)
    assert(h0.files.forall(h1.files.contains),
      "a DV point upsert into a sink-created table must rewrite nothing")
    assert(h1.dvs.size == 1, s"expected one mask: ${h1.dvs}")
    assert(GraftTable.read(spark, root)
      .filter(col("k") === 500L).select("name").head().getString(0)
      == "upd")
    // a differing statsColumns on the existing table is refused loudly
    val bad = intercept[IllegalArgumentException] {
      val sink = new org.apache.spark.sql.graft.GraftTableSink(
        spark.sqlContext, root, Some("w1"),
        merge = Some(("k", Seq("seq"))), statsColumns = Seq("seq"))
      sink.addBatch(2L, Seq((1L, "x", 1L)).toDF("k", "name", "seq"))
    }
    assert(bad.getMessage.contains("fixed at table creation"))

    // append-mode twin: fresh root, option flows through the provider
    val root2 = s"$base/table2"
    val q = spark.readStream.format(Fmt).option("path", root).load()
      .select("k", "name")
      .writeStream.trigger(Trigger.AvailableNow())
      .format(Fmt)
      .option("path", root2)
      .option("checkpointLocation", s"$base/ck2")
      .option("statsColumns", "k")
      .start()
    q.awaitTermination()
    val g0 = GraftTable.manifest(spark, root2, 0L)
    assert(g0.statsCols == Seq("k"),
      s"append sink lost the stats option: ${g0.statsCols}")
  }

  test("a RESTORE mid-stream serves its row-exact diff through the same checkpoint, not a re-snapshot") {
    import spark.implicits._
    val base = freshDir()
    val root = s"$base/table"
    val ckpt = s"$base/ckpt"
    val v0 = GraftTable.create(
      (1L to 6L).map(i => (i, s"n$i")).toDF("k", "name"), root)
    val v1 = GraftTable.append(
      Seq((7L, "n7")).toDF("k", "name"), root, v0)
    GraftTable.deleteWhere(spark, root, col("k") % 3 === 0, v1)
    runAvailableNow(root, ckpt, s"$base/out1")
    assert(spark.read.parquet(s"$base/out1").count() == 9L) // 7 ins + 2 del

    // the table is rolled back while the stream is down; the resumed
    // checkpoint serves ONLY the restore's membership diff — the two
    // resurrected rows — never a fresh snapshot
    val v3 = GraftTable.restore(spark, root, expectedVersion = 2L,
      toVersion = v1)
    runAvailableNow(root, ckpt, s"$base/out2")
    val got = spark.read.parquet(s"$base/out2")
      .select("k", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((3L, "insert", v3), (6L, "insert", v3)),
      s"restore feed wrong: $got")
  }

  test("startingTimestamp positions a fresh checkpoint at the first commit at-or-after; exclusive with startingVersion; after-latest errors") {
    import spark.implicits._
    val base = freshDir()
    val root = s"$base/table"
    val v0 = GraftTable.create(Seq((1L, "a")).toDF("k", "name"), root)
    Thread.sleep(20)
    val v1 = GraftTable.append(Seq((2L, "b")).toDF("k", "name"), root, v0)
    Thread.sleep(20)
    val v2 = GraftTable.append(Seq((3L, "c")).toDF("k", "name"), root, v1)
    val ts = GraftTable.history(spark, root).map(_.ts.get)

    def run(ckpt: String, out: String, opts: Map[String, String]): Unit = {
      val reader = spark.readStream.format(Fmt).option("path", root)
      val q = opts.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
        .load()
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.write.mode("append").parquet(out)
            ()
        }
        .start()
      q.awaitTermination()
    }

    // the exact stamp of v1 resolves to v1; a probe strictly between
    // v1 and v2 resolves FORWARD to v2 (at-or-after — the mirror of
    // timestampAsOf's at-or-before)
    run(s"$base/ck1", s"$base/out1",
      Map("startingTimestamp" -> ts(1).toString))
    assert(spark.read.parquet(s"$base/out1")
      .select("k", "_commit_version").as[(Long, Long)].collect().toSet
      == Set((2L, v1), (3L, v2)))
    if (ts(1) + 1 < ts(2)) {
      run(s"$base/ck2", s"$base/out2",
        Map("startingTimestamp" -> (ts(1) + 1).toString))
      assert(spark.read.parquet(s"$base/out2")
        .select("k", "_commit_version").as[(Long, Long)].collect().toSet
        == Set((3L, v2)))
    }
    // both options together is a contradiction, refused loudly
    val both = intercept[Exception] {
      run(s"$base/ck3", s"$base/out3",
        Map("startingTimestamp" -> ts(1).toString,
          "startingVersion" -> "0"))
    }
    assert(both.getMessage.contains("mutually exclusive"))
    // after the latest commit: no commit exists to start from
    val late = intercept[Exception] {
      run(s"$base/ck4", s"$base/out4",
        Map("startingTimestamp" -> (ts(2) + 3600L * 1000).toString))
    }
    assert(late.getMessage.contains("no commit exists"))
  }
}
