package graft.streaming

import graft.pipeline.DirtPipeline
import graft.util.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental MI/similarity maintenance vs from-scratch batch: after
  * EVERY micro-batch the maintained state's MI view must equal
  * `DirtPipeline.miFeatures` over the stream prefix EXACTLY (bit-for-bit
  * doubles — the view shares the batch expression tree over
  * integer-exact merged counts, so no epsilon is needed), and the
  * composed similarity must match the batch scores on the same pairs.
  */
class DirtIncrementalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  // 400 lines of the correlated synthetic corpus (positive MI, nonzero
  // Lin scores), as four 100-line micro-batches
  private lazy val allLines: Seq[String] =
    graft.Bench.syntheticCorpusCorrelated(spark, 400).collect().toSeq
  private val testSet = graft.Bench.syntheticTestSet

  private def batchMi(prefix: Seq[String]): DataFrame = {
    import spark.implicits._
    val tr = DirtPipeline.triples(DirtPipeline.extractInstances(
      DirtPipeline.parseCorpus(spark.createDataset(prefix))))
    tr.persist()
    try DirtPipeline.miFeatures(tr, DirtPipeline.swMargins(tr),
      DirtPipeline.psMargins(tr), DirtPipeline.globalN(tr))
    finally () // unpersist happens via clearCache below
  }

  /** Exact (path, slot, word, mi) multiset compare via full-outer join —
    * doubles compared with ===, not a tolerance.
    */
  private def assertMiEqual(inc: DataFrame, batch: DataFrame): Unit = {
    val mismatches = inc.withColumnRenamed("mi", "mi_inc")
      .join(batch.withColumnRenamed("mi", "mi_batch"),
        Seq("path", "slot", "word"), "full_outer")
      .filter(col("mi_inc").isNull || col("mi_batch").isNull ||
        col("mi_inc") =!= col("mi_batch"))
      .count()
    assert(mismatches == 0L, s"$mismatches MI rows differ from batch")
  }

  test("MI view is bit-identical to batch after every micro-batch") {
    import spark.implicits._
    var state = DirtIncremental.empty(spark)
    val batches = allLines.grouped(100).toSeq
    batches.zipWithIndex.foreach { case (lines, i) =>
      state = DirtIncremental.applyBatch(state,
        spark.createDataset(lines))
      val prefix = allLines.take((i + 1) * 100)
      assertMiEqual(DirtIncremental.miFeatures(state), batchMi(prefix))
      assert(state.batches == i + 1)
      spark.catalog.clearCache()
    }
    // final N matches the batch global N exactly
    val tr = DirtPipeline.triples(DirtPipeline.extractInstances(
      DirtPipeline.parseCorpus(spark.createDataset(allLines))))
    assert(state.n == DirtPipeline.globalN(tr))
  }

  test("similarity over the maintained state matches batch scores") {
    import spark.implicits._
    var state = DirtIncremental.empty(spark)
    allLines.grouped(100).foreach { lines =>
      state = DirtIncremental.applyBatch(state, spark.createDataset(lines))
    }
    val got = DirtIncremental.similarity(state, testSet)
      .as[(String, String, Double)].collect().sortBy(r => (r._1, r._2))
    val want = DirtPipeline.run(spark,
      spark.createDataset(allLines), testSet)
      .as[(String, String, Double)].collect().sortBy(r => (r._1, r._2))
    assert(got.map(r => (r._1, r._2)).toSeq == want.map(r => (r._1, r._2)).toSeq)
    // scores agree to 1e-12 relative — double-sum aggregation order over
    // identical per-feature MI values is the only difference
    got.zip(want).foreach { case ((p1, p2, s1), (_, _, s2)) =>
      assert(math.abs(s1 - s2) <= 1e-12 * math.max(1.0, math.abs(s2)),
        s"($p1,$p2): $s1 vs $s2")
    }
    assert(got.exists(_._3 > 0.0), "planted corpus must yield nonzero scores")
    spark.catalog.clearCache()
  }

  test("MemoryStream + foreachBatch drives the maintenance end-to-end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    var state = DirtIncremental.empty(spark)
    val q = input.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], _: Long) =>
        state = DirtIncremental.applyBatch(state, batch)
      }
      .outputMode("update")
      .start()
    try {
      val batches = allLines.grouped(100).toSeq
      batches.zipWithIndex.foreach { case (lines, i) =>
        input.addData(lines: _*)
        q.processAllAvailable()
        assert(state.batches == i + 1,
          s"foreachBatch must have folded batch ${i + 1}")
      }
      assertMiEqual(DirtIncremental.miFeatures(state), batchMi(allLines))
      // state stays vocabulary-bounded: far fewer rows than corpus lines
      // contributed instances (each line is one instance, two triples)
      assert(state.stateRows > 0)
    } finally {
      q.stop()
      spark.catalog.clearCache()
    }
  }

  /** Full-outer scored-pair compare: identical pair sets, scores within
    * 1e-12 relative (double-sum order is the only allowed difference —
    * the slice itself is gated exactly on longs below).
    */
  private def assertScoresEqual(got: DataFrame, want: DataFrame): Unit = {
    val mism = got.withColumnRenamed("score", "s_inc")
      .join(want.withColumnRenamed("score", "s_batch"),
        Seq("path1", "path2"), "full_outer")
      .filter(col("s_inc").isNull || col("s_batch").isNull ||
        abs(col("s_inc") - col("s_batch")) >
          lit(1e-12) * greatest(lit(1.0), abs(col("s_batch"))))
      .count()
    assert(mism == 0L, s"$mism scored pairs differ from batch")
  }

  test("maintained member slice == features ⋉ memberPaths exactly, every batch") {
    import spark.implicits._
    var sim = DirtIncremental.emptySim(spark, testSet)
    allLines.grouped(100).foreach { lines =>
      sim = DirtIncremental.applySimBatch(sim, spark.createDataset(lines))
      val want = sim.inner.features
        .join(sim.memberPaths, Seq("path"), "left_semi")
      val mism = sim.memberFeatures
        .withColumnRenamed("cnt", "c1").withColumnRenamed("ps_cnt", "p1")
        .withColumnRenamed("sw_cnt", "s1")
        .join(want.withColumnRenamed("cnt", "c2")
          .withColumnRenamed("ps_cnt", "p2").withColumnRenamed("sw_cnt", "s2"),
          Seq("path", "slot", "word"), "full_outer")
        .filter(col("c1").isNull || col("c2").isNull ||
          col("c1") =!= col("c2") || col("p1") =!= col("p2") ||
          col("s1") =!= col("s2"))
        .count()
      assert(mism == 0L,
        s"member slice diverged from the semi-joined snapshot on $mism rows")
      spark.catalog.clearCache()
    }
    DirtIncremental.release(sim)
  }

  test("maintained scored-pair view matches from-scratch batch after every batch") {
    import spark.implicits._
    var sim = DirtIncremental.emptySim(spark, testSet)
    val batches = allLines.grouped(100).toSeq
    batches.zipWithIndex.foreach { case (lines, i) =>
      sim = DirtIncremental.applySimBatch(sim, spark.createDataset(lines))
      val prefix = allLines.take((i + 1) * 100)
      assertScoresEqual(DirtIncremental.scoredPairs(sim),
        DirtPipeline.run(spark, spark.createDataset(prefix), testSet))
      spark.catalog.clearCache()
    }
    // the slice path and the full-snapshot path agree with each other too
    assertScoresEqual(DirtIncremental.scoredPairs(sim),
      DirtIncremental.similarity(sim.inner, testSet))
    assert(DirtIncremental.scoredPairs(sim)
      .filter(col("score") > 0.0).count() > 0,
      "correlated corpus must yield nonzero maintained scores")
    DirtIncremental.release(sim)
    spark.catalog.clearCache()
  }

  test("empty and no-op batches leave the view consistent") {
    import spark.implicits._
    var state = DirtIncremental.empty(spark)
    assert(DirtIncremental.miFeatures(state).count() == 0L)
    assert(DirtIncremental.similarity(state, testSet).count() == 0L)
    state = DirtIncremental.applyBatch(state,
      spark.createDataset(Seq.empty[String]))
    assert(state.n == 0L && state.batches == 1L)
    state = DirtIncremental.applyBatch(state,
      spark.createDataset(allLines.take(100)))
    // an unparseable-garbage batch contributes nothing but stays green
    state = DirtIncremental.applyBatch(state,
      spark.createDataset(Seq("not a biarc line", "also\tnot")))
    assertMiEqual(DirtIncremental.miFeatures(state),
      batchMi(allLines.take(100)))
    spark.catalog.clearCache()
  }
}
