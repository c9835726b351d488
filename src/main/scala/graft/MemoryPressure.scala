package graft

import graft.util.Json.quote
import graft.util.Sessions
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import java.util.concurrent.atomic.LongAdder

/** Memory-pressure probe: runs the heavy query family under a
  * deliberately small heap (set `SPARK_DRIVER_MEM`, e.g. `4g`) and
  * reports, per query, wall seconds plus the executor task metrics that
  * distinguish "spilled and survived" from "fit comfortably":
  * `memoryBytesSpilled` / `diskBytesSpilled` (execution memory pressure
  * handled by spill) and max `peakExecutionMemory` per task. One JSON
  * line on stdout, same transport as Bench.
  *
  * This is the 100 TB operability claim made falsifiable at fixture
  * scale: a 1000-executor cluster never gives an operator the luxury of
  * a heap sized to its input, so the heavy operators must degrade to
  * spill — not OOM — when execution memory is scarce. A query that OOMs
  * here lands in `errors` and fails the run (exit 1).
  *
  * Usage: `SPARK_DRIVER_MEM=4g SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1
  * sbt "runMain graft.MemoryPressure [queryName ...]"`
  *
  * Scarcity knob (round 11): `SPARK_GRAFT_MEM_FRACTION` throttles
  * `spark.memory.fraction` (Spark's unified execution+storage pool)
  * below its 0.6 default. Rationale, from the round-11 calibration
  * runs: at fixture scale the declared queries peak ~80 MB of
  * execution memory PER TASK and complete spill-free even under a
  * 1 GB heap, while shrinking the whole heap far enough to starve the
  * pool kills the JVM itself first (metaspace + codegen + 32 task
  * threads OOM before managed memory is the binding constraint —
  * exit 52, the wrong failure mode to test). Throttling the POOL with
  * ample JVM headroom reproduces what a contended 1000-executor
  * cluster actually does to an operator — grants shrink, sorts and
  * aggregation maps must spill — so spill-vs-OOM is genuinely what the
  * probe measures.
  */
object MemoryPressure {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.envCpus(32)
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q32_dedup_jaccard", "q68_dedup_components",
        "q78_curate_corpus_pipeline", "q110_fuzzy_join_editdist",
        "q114_bpe_encode")
    val spark = Sessions.local(cpus, "spark.memory.fraction" ->
      sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.6"))

    val memSpilled = new LongAdder
    val diskSpilled = new LongAdder
    val peakExec = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          memSpilled.add(m.memoryBytesSpilled)
          diskSpilled.add(m.diskBytesSpilled)
          peakExec.updateAndGet(p => math.max(p, m.peakExecutionMemory))
          ()
        }
      }
    })

    // names resolve in Bench.runners exactly as in BenchOne, so the
    // synthetic entries' scale knobs (SPARK_GRAFT_PLANTED_GROUPS,
    // SPARK_GRAFT_JACCARD_DOCS, SPARK_GRAFT_DIRT_ROWS) let the probe push
    // per-task state past the pool where the sf0.1 declared queries alone
    // stay comfortably under it (round-11 finding: every default query
    // peaks ~80 MB/task and completes spill-free even at
    // SPARK_DRIVER_MEM=1g)
    val runners = Bench.runners(spark, sfDir)

    val results = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { name =>
      memSpilled.reset(); diskSpilled.reset(); peakExec.set(0L)
      val t0 = System.nanoTime()
      try {
        runners.getOrElse(name, sys.error(s"unknown query: $name")).apply()
        val sec = (System.nanoTime() - t0) / 1e9
        results(name) =
          s"""{"sec":$sec,"memoryBytesSpilled":${memSpilled.sum()},""" +
            s""""diskBytesSpilled":${diskSpilled.sum()},""" +
            s""""peakExecutionMemory":${peakExec.get()}}"""
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(200)
      } finally spark.catalog.clearCache()
    }

    val heapMax = Runtime.getRuntime.maxMemory()
    val qs = results.map { case (k, v) => s"${quote(k)}:$v" }
      .mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${quote(k)}:${quote(v)}" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"memory_pressure","heapMaxBytes":$heapMax,""" +
      s""""cpus":$cpus,"sf":${quote(sfDir)},"queries":$qs,"errors":$es}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
