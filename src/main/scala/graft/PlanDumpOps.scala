package graft

import graft.util.Sessions
import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` to `<outDir>/<name>_<suffix>.txt` — the
  * plan evidence under `plans/`. A name is looked up first in the `dumps`
  * map below, the OPERATOR-INTERNAL stages that no declared query's
  * top-level plan shows (iteration bodies that run behind
  * localCheckpoint boundaries, verify stages inside typed maps), then in
  * [[SparkEntry.queries]].
  *
  * Usage: `runMain graft.PlanDumpOps <sfDir> <outDir> <suffix> <name>...`
  */
object PlanDumpOps {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names @ _*) = args.toSeq.toArray
    val spark = Sessions.local(Sessions.envCpus(32))
    import spark.implicits._
    new java.io.File(outDir).mkdirs()

    // bench-scale corpus by default so static size estimates produce
    // the same join strategies the timed entries plan (a tiny corpus
    // broadcasts the margin tables and hides the real exchanges)
    val groups = sys.env.getOrElse("SPARK_GRAFT_PLANTED_GROUPS", "41667").toInt

    def edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L)).toDS()

    val dumps: Map[String, () => org.apache.spark.sql.Dataset[_]] = Map(
      // one composed star round — the per-iteration body of
      // DupGraph.components (q68/q69/q83/q130, cx_dedup_graph,
      // dedup_components_adversarial, q78's closure stage)
      "star_round" -> (() =>
        graft.operators.DupGraph.smallStar(
          graft.operators.DupGraph.largeStar(edges))),
      // the minhash candidate-verify stage (q33/q136/cx_dedup_micro)
      "minhash_pairs" -> (() =>
        graft.operators.Dedup.minhashPairs(
          Tables.documents(spark, sfDir), threshold = 0.7)),
      // DIRT triples + margins + MI over the planted corpus — the
      // aggregation phase of dirt_planted/q40
      "dirt_mi" -> (() => {
        val tr = graft.pipeline.DirtPipeline.triples(
          graft.pipeline.DirtPipeline.extractInstances(
            graft.pipeline.DirtPipeline.parseCorpus(
              graft.queries.PlantedBiarc.scaledLines(spark, groups))))
        graft.pipeline.DirtPipeline.miFeatures(tr,
          graft.pipeline.DirtPipeline.swMargins(tr),
          graft.pipeline.DirtPipeline.psMargins(tr), 1000L)
      }),
      // full DIRT similarity lineage without the persist boundaries —
      // the complete exchange census of the pipeline
      "dirt_similarity_unpersisted" -> (() => {
        val pb = graft.queries.PlantedBiarc
        val tr = graft.pipeline.DirtPipeline.triples(
          graft.pipeline.DirtPipeline.extractInstances(
            graft.pipeline.DirtPipeline.parseCorpus(
              pb.scaledLines(spark, groups))))
        val mi = graft.pipeline.DirtPipeline.miFeatures(tr,
          graft.pipeline.DirtPipeline.swMargins(tr),
          graft.pipeline.DirtPipeline.psMargins(tr), 1000L)
        val pairs = graft.pipeline.DirtPipeline
          .testPairs(pb.scaledTestSet(groups)).toDF("p1", "p2")
        graft.pipeline.DirtPipeline.similarity(mi,
          graft.pipeline.DirtPipeline.sumMi(mi), pairs)
      }))

    names.foreach { n =>
      val ds = dumps.get(n).map(_())
        .getOrElse(SparkEntry.queries(n)(spark, sfDir))
      val plan = ds.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
      spark.catalog.clearCache()
      println(s"dumped $n")
    }
    spark.stop()
  }
}
