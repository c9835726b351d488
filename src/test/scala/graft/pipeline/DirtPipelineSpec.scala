package graft.pipeline

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end test of the DIRT pipeline on a hand-computed mini
  * corpus (SURVEY.md §7.3): "X die from Y" vs "X die of Y" must score
  * positively and match the closed-form MI/Lin arithmetic of the reference
  * (`DirtDriver.java:694-698,972-975`).
  */
class DirtPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val corpus: Seq[String] = Seq(
    "die\tpatients/NNS/nsubj/2 die/VBP/ROOT/0 from/IN/prep/2 cancer/NN/pobj/3\t10",
    "die\tpeople/NNS/nsubj/2 die/VBP/ROOT/0 from/IN/prep/2 smoking/NN/pobj/3\t5",
    "die\tpatients/NNS/nsubj/2 die/VBP/ROOT/0 of/IN/prep/2 cancer/NN/pobj/3\t7",
    "die\tmen/NNS/nsubj/2 die/VBP/ROOT/0 of/IN/prep/2 boredom/NN/pobj/3\t2",
    "suffer\tpatients/NNS/nsubj/2 suffer/VBP/ROOT/0 from/IN/prep/2 cancer/NN/pobj/3\t4",
    "malformed line with too few fields")

  val pFrom = "N:<nsubj:V:die:>prep:P:from:>pobj:N"
  val pOf = "N:<nsubj:V:die:>prep:P:of:>pobj:N"
  val pSuffer = "N:<nsubj:V:suffer:>prep:P:from:>pobj:N"

  test("triples, margins and N aggregate with weights") {
    import spark.implicits._
    val tr = DirtPipeline.triples(
      DirtPipeline.extractInstances(
        DirtPipeline.parseCorpus(spark.createDataset(corpus))))
    val m = tr.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(m((pFrom, "X", "patient")) == 10L)
    assert(m((pFrom, "X", "peopl")) == 5L)
    assert(m((pFrom, "Y", "cancer")) == 10L)
    assert(m((pOf, "Y", "boredom")) == 2L)
    assert(m((pSuffer, "X", "patient")) == 4L)
    assert(m.size == 10)
    assert(DirtPipeline.globalN(tr) == 56L)

    val sw = DirtPipeline.swMargins(tr).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(sw(("X", "patient")) == 21L)
    assert(sw(("Y", "cancer")) == 21L)
    val ps = DirtPipeline.psMargins(tr).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ps((pFrom, "X")) == 15L)
    assert(ps((pOf, "Y")) == 9L)
  }

  test("end-to-end similarity matches closed-form Lin score") {
    import spark.implicits._
    val testSet = Seq(
      "X die from Y\tX die of Y",
      "X die from Y\tX suffer from Y",
      "X die from Y\tX die from Y", // self-pair: reference scores 0.0
      "X fly to Y\tX travel to Y") // paths absent from corpus: dropped
    val out = DirtPipeline
      .run(spark, spark.createDataset(corpus), testSet)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap

    // Hand-derived expectation (N = 56):
    //   MI(from,X,patient)=ln(10*56/(15*21)), MI(of,X,patient)=ln(7*56/(9*21))
    //   sumMI(from,X)=ln(560/315)+ln(280/75); sumMI(of,X)=ln(392/189)+ln(112/18)
    //   simX = (MIfrom+MIof) / (sumFrom+sumOf); score = sqrt(simX*simY) = simX
    val miFromPatient = math.log(10.0 * 56 / (15.0 * 21))
    val miFromPeopl = math.log(5.0 * 56 / (15.0 * 5))
    val miOfPatient = math.log(7.0 * 56 / (9.0 * 21))
    val miOfMen = math.log(2.0 * 56 / (9.0 * 2))
    val sumFrom = miFromPatient + miFromPeopl
    val sumOf = miOfPatient + miOfMen
    val want = (miFromPatient + miOfPatient) / (sumFrom + sumOf)

    val got = out((pFrom, pOf)) // "from" < "of" lexicographically
    assert(math.abs(got - want) < 1e-12, s"got $got want $want")

    // X/Y symmetry of this corpus makes score == simX exactly:
    // sumMI(suffer, X) has the single feature X:patient.
    val miSufPatient = math.log(4.0 * 56 / (4.0 * 21))
    val wantSuf = (miFromPatient + miSufPatient) / (sumFrom + miSufPatient)
    val gotSuf = out((pFrom, pSuffer))
    assert(math.abs(gotSuf - wantSuf) < 1e-12, s"got $gotSuf want $wantSuf")

    // Self-pair present with score 0.0 (reference `:890-905` puts all
    // records in v1, intersection empty).
    assert(out((pFrom, pFrom)) == 0.0)

    // Absent-path pair dropped entirely.
    assert(out.size == 3)
  }

  test("similarity is symmetric under pair order in the test set") {
    import spark.implicits._
    val a = DirtPipeline.run(spark, spark.createDataset(corpus),
      Seq("X die from Y\tX die of Y")).collect().head
    val b = DirtPipeline.run(spark, spark.createDataset(corpus),
      Seq("X die of Y\tX die from Y")).collect().head
    assert(a.getString(0) == b.getString(0))
    assert(a.getString(1) == b.getString(1))
    assert(a.getDouble(2) == b.getDouble(2))
  }
}
