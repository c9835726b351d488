package graft.eval

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

class EvaluateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  test("max-dedup keeps max score per canonical pair and drops zeros") {
    import spark.implicits._
    val scored = Seq(
      ("b", "a", 0.3), ("a", "b", 0.5), // same pair, both orders
      ("c", "d", 0.2),
      ("e", "f", 0.0)) // dropped
      .toDF("path1", "path2", "score")
    val out = Evaluate.rankedPairs(Evaluate.maxDedup(scored))
    assert(out == Seq((("a", "b"), 0.5), (("c", "d"), 0.2)))
  }

  test("threshold sweep maximizes F1 over labeled pairs (hand-computed)") {
    import spark.implicits._
    val pos = Seq("X cause Y\tX trigger Y", "X lead to Y\tX result in Y")
    val neg = Seq("X eat Y\tX drink Y")
    val pCause = "N:<nsubj:V:caus:>dobj:N"
    val pTrigger = "N:<nsubj:V:trigger:>dobj:N"
    val pLead = "N:<nsubj:V:lead:>prep:P:to:>pobj:N"
    val pResult = "N:<nsubj:V:result:>prep:P:in:>pobj:N"
    val pEat = "N:<nsubj:V:eat:>dobj:N"
    val pDrink = "N:<nsubj:V:drink:>dobj:N"

    val scored = Seq(
      (pTrigger, pCause, 0.3), (pCause, pTrigger, 0.5), // dup, max=0.5, TP
      ("unlabeled1", "unlabeled2", 0.45), //               ignored by sweep
      (pDrink, pEat, 0.4), //                              FP
      (pLead, pResult, 0.2)) //                            TP
      .toDF("path1", "path2", "score")

    // ranked labeled: TP@0.5 (P=1, R=.5, F1=.667) -> FP@0.4 (.5/.5/.5)
    //                 -> TP@0.2 (P=2/3, R=1, F1=.8)  => best at 0.2
    val report = Evaluate.evaluate(scored, pos, neg)
    assert(report.best.threshold == 0.2)
    assert(math.abs(report.best.f1 - 0.8) < 1e-12)
    assert(math.abs(report.best.precision - 2.0 / 3.0) < 1e-12)
    assert(report.best.recall == 1.0)
    assert(report.truePositives.map(_._2) == Seq(0.5, 0.2))
    assert(report.falsePositives.map(_._2) == Seq(0.4))
    assert(report.prCurve.last == (1.0, 2.0 / 3.0))
  }

  // Replay the evaluation against the reference's own shipped large-run
  // outputs (`analysis/output_large/part-r-*`, 569 rows) and ground truth.
  // The published AnalysisReport.md:20-24 numbers (F1 0.2161, 538 nonzero
  // pairs) are NOT reproducible from the shipped files: only 3 part files
  // (159 nonzero pairs of the 538) were committed, and their paths predate
  // the reference's verb stemming (`V:cause`, not `V:caus`), so only
  // stem-invariant verbs can match translated ground truth. This test
  // therefore pins the sweep over the shipped subset as the regression
  // anchor, for both translation dialects (engine/Java and the Python
  // evaluator's laxer twin).
  test("golden replay: sweep over the reference's shipped output sample") {
    import spark.implicits._
    val base = "/root/reference/analysis"
    assume(Files.exists(Paths.get(base)), "reference checkout not present")

    val rows = Files.list(Paths.get(s"$base/output_large")).iterator().asScala
      .flatMap(f => Files.readAllLines(f).asScala)
      .flatMap { line =>
        val p = line.trim.split("\t")
        if (p.length >= 3) Try((p(0), p(1), p(2).toDouble)).toOption else None
      }
      .toSeq
    assert(rows.size == 569)

    val scored = rows.toDF("path1", "path2", "score")
    val pos = Files.readAllLines(Paths.get(s"$base/positive-preds.txt")).asScala.toSeq
    val neg = Files.readAllLines(Paths.get(s"$base/negative-preds.txt")).asScala.toSeq
    val java = Evaluate.evaluate(scored, pos, neg)
    info(f"java-dialect: threshold=${java.best.threshold}%.6f f1=${java.best.f1}%.4f " +
      f"precision=${java.best.precision}%.4f recall=${java.best.recall}%.4f " +
      f"scoredPairs=${java.scoredPairs}")

    val py = Evaluate.evaluate(scored, pos, neg, pythonCompat = true)
    info(f"python-compat: threshold=${py.best.threshold}%.6f f1=${py.best.f1}%.4f " +
      f"precision=${py.best.precision}%.4f recall=${py.best.recall}%.4f")

    assert(java.scoredPairs == 159) // 569 golden rows, 159 with score > 0
    assert(math.abs(java.best.threshold - 0.00851) < 1e-4)
    assert(math.abs(java.best.f1 - 0.0885) < 1e-3)
    assert(math.abs(java.best.precision - 0.9167) < 1e-3)
    assert(math.abs(java.best.recall - 0.0465) < 1e-3)
    assert(math.abs(py.best.f1 - 0.0553) < 1e-3)

    // PR-curve artifact (evaluate_dirt.py:250-262 plots exactly this
    // series): write the TSV and assert it round-trips the curve rows
    val tsv = Files.createTempFile("pr_curve", ".tsv")
    try {
      Evaluate.writePrCurve(java.prCurve, tsv)
      val lines = Files.readAllLines(tsv).asScala.toSeq
      assert(lines.head == "recall\tprecision")
      assert(lines.size == java.prCurve.size + 1)
      val parsed = lines.tail.map { l =>
        val p = l.split("\t"); (p(0).toDouble, p(1).toDouble)
      }
      assert(parsed == java.prCurve)
      // the shipped-subset curve starts at full precision (the published
      // large-run shape, AnalysisReport.md §3) and is non-empty
      assert(parsed.head._2 == 1.0)
    } finally { Files.deleteIfExists(tsv); () }
  }
}
