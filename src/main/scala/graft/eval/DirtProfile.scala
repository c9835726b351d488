package graft.eval

import org.apache.spark.storage.StorageLevel

import graft.pipeline.DirtPipeline
import graft.util.Sessions

/** Stage-level timing of the DIRT planted pipeline (optimization guide
  * §1: measure first, label jobs, time with the noop sink) — separates
  * parse+extract+triple-aggregation, the MI join phase, and the
  * similarity phase so a round's DIRT work targets the real cost.
  *
  * Usage: `runMain graft.eval.DirtProfile [groups]` (default 41667 — the
  * bench's dirt_planted_2000016 corpus).
  */
object DirtProfile {
  def main(args: Array[String]): Unit = {
    val groups = args.headOption.map(_.toInt).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_PLANTED_GROUPS", "41667").toInt)
    val spark = Sessions.local(Sessions.envCpus(32))
    import spark.implicits._

    def timed[T](label: String)(body: => T): T = {
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      val r = body
      println(f"DIRTPROFILE $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.sparkContext.setJobDescription(null)
      r
    }

    val pb = graft.queries.PlantedBiarc
    (1 to 2).foreach { rep =>
      println(s"--- rep $rep (groups=$groups) ---")
      val corpus = pb.scaledLines(spark, groups)

      // parse+extract alone (noop sink: full compute, no agg pruning)
      timed("parse+extract (noop)") {
        DirtPipeline.extractInstances(DirtPipeline.parseCorpus(corpus))
          .write.format("noop").mode("overwrite").save()
      }

      val tr = DirtPipeline.triples(
        DirtPipeline.extractInstances(DirtPipeline.parseCorpus(corpus)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = timed("triples agg + persist + globalN")(DirtPipeline.globalN(tr))

      val mi = DirtPipeline.miFeatures(tr, DirtPipeline.swMargins(tr),
        DirtPipeline.psMargins(tr), n)
        .persist(StorageLevel.MEMORY_AND_DISK)
      timed("mi join phase (noop)") {
        mi.write.format("noop").mode("overwrite").save()
      }

      val pairsDf = DirtPipeline.testPairs(pb.scaledTestSet(groups))
        .toDF("p1", "p2")
      val scored = DirtPipeline.similarity(mi, DirtPipeline.sumMi(mi), pairsDf)
      timed("similarity phase (noop)") {
        scored.write.format("noop").mode("overwrite").save()
      }

      // Deterministic shuffle accounting for the similarity phase
      // (guide §2.3): wall-clock at sf0.1 rides the environment's mode,
      // but bytes/records per exchange do not. Driven by collect() so
      // the frame owns its final adaptive plan (the DirtSkewSpec
      // pattern); the timed noop above stays the committed methodology.
      val scored2 = DirtPipeline
        .similarity(mi, DirtPipeline.sumMi(mi), pairsDf)
      scored2.collect()
      // recursive walk: AQE nests each stage's subtree behind a
      // leaf-like QueryStageExec / AdaptiveSparkPlanExec boundary
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{
        AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      def walk(p: SparkPlan): Seq[ShuffleExchangeLike] = {
        val here = p match {
          case s: ShuffleQueryStageExec => walk(s.plan)
          case q: QueryStageExec => walk(q.plan)
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: ShuffleExchangeLike => Seq(s)
          case _ => Seq.empty
        }
        here ++ p.children.flatMap(walk) ++
          p.subqueries.flatMap(walk)
      }
      walk(scored2.queryExecution.executedPlan).distinct.foreach { s =>
        def m(k: String): Long =
          s.metrics.get(k).map(_.value).getOrElse(-1L)
        println(s"DIRTSHUFFLE dataSize=${m("dataSize")} " +
          s"bytesWritten=${m("shuffleBytesWritten")} " +
          s"recordsWritten=${m("shuffleRecordsWritten")} " +
          s"output=${s.output.map(_.name).mkString(",")}")
      }

      tr.unpersist()
      mi.unpersist()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
