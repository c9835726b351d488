package graft

import graft.util.Sessions

/** Isolated per-query timing: runs only the named queries (plus the same
  * warmup query Bench uses), several repetitions each, in a fresh
  * session — the tool for separating a genuinely slow operator from
  * session-aging collateral (GC/shuffle-file pressure inherited from a
  * heavy neighbor in the full bench sequence). Names resolve in
  * [[Bench.runners]]: a composite (`cx_dedup_graph`, `cx_rel_core`, ...)
  * or synthetic entry times exactly the body the full bench timed; a bare
  * member name (q69...) times the declared stand-alone query.
  *
  * Usage: `runMain graft.BenchOne q33_dedup_minhash q34_dedup_simhash`
  * (env `SPARK_GRAFT_SF_DIR`/`SPARK_GRAFT_CPUS`/`SPARK_GRAFT_BENCH_REPS`
  * as in Bench).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = Sessions.local(Sessions.envCpus(4))

    try SparkEntry.queries("q01_agg_sum_groupby")(spark, sfDir).count()
    catch { case _: Throwable => () }

    val runners = Bench.runners(spark, sfDir)
    args.foreach { name =>
      val body = runners.getOrElse(name, sys.error(s"unknown query: $name"))
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        body()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        t
      }
      println(f"BENCHONE $name reps=$reps " +
        f"min=${times.min}%.3f median=${times.sorted.apply(reps / 2)}%.3f " +
        f"max=${times.max}%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
