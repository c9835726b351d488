package graft.pipeline

import graft.eval.Evaluate
import graft.util.Sessions
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end DIRT driver (`DirtDriver.run`, `:981-1092`, as one Spark
  * program): read biarc corpus text, score the test-set pairs, write the
  * reference's `path1 \t path2 \t score` TSV (`:1007-1012,1083-1087`), and
  * optionally run the evaluation sweep when ground-truth files are given.
  *
  * Usage: DirtCli <corpusPathOrGlob> <testSetFile> <outDir> [posFile negFile]
  */
object DirtCli {

  /** S5 TSV sink — tab-separated, no header, one part file per partition
    * (`TextOutputFormat` semantics).
    */
  def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("sep", "\t").csv(path)

  def main(args: Array[String]): Unit = {
    val corpusPath = args(0)
    val testSetFile = args(1)
    val outDir = args(2)
    val spark = Sessions.local(Sessions.envCpus(4))

    val testLines = Files.readAllLines(Paths.get(testSetFile)).asScala.toSeq
    // persisted: consumed by the TSV sink and (optionally) the eval sweep
    val scored = DirtPipeline.run(spark,
      spark.read.textFile(corpusPath), testLines)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    writeTsv(scored, outDir)

    if (args.length >= 5) {
      val pos = Files.readAllLines(Paths.get(args(3))).asScala.toSeq
      val neg = Files.readAllLines(Paths.get(args(4))).asScala.toSeq
      val report = Evaluate.evaluate(scored, pos, neg)
      println(f"BEST THRESHOLD: ${report.best.threshold}%.6f")
      println(f"Max F1:         ${report.best.f1}%.4f")
      println(f"Precision:      ${report.best.precision}%.4f")
      println(f"Recall:         ${report.best.recall}%.4f")
      // error-analysis exemplars (`evaluate_dirt.py:156-224`)
      def block(title: String, xs: Seq[(Evaluate.Pair, Double)]): Unit = {
        println(s"--- $title ---")
        if (xs.isEmpty) println("(none)")
        xs.foreach { case ((p1, p2), sc) =>
          println(f"Score: $sc%.4f | ($p1, $p2)")
        }
      }
      block("True Positives", report.truePositives)
      block("False Positives", report.falsePositives)
      block("True Negatives", report.trueNegatives)
      block("False Negatives", report.falseNegatives)
      // PR-curve artifact (`evaluate_dirt.py:250-262` emits a PNG of
      // exactly this series; the engine ships the data as TSV)
      val curvePath = Paths.get(outDir, "precision_recall_curve.tsv")
      Evaluate.writePrCurve(report.prCurve, curvePath)
      println(s"PR curve saved as '$curvePath'")
    }
    spark.stop()
  }
}
