package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.eval.Evaluate
import graft.operators.{Dedup, DupGraph}
import graft.pipeline.{DirtCli, DirtPipeline}
import graft.streaming.DirtIncremental

/** One operation: wall and Java-thread CPU seconds, whether every output
  * check passed, and its root span when traced.
  */
final case class Op(wallS: Double, cpuS: Double, ok: Boolean,
    root: Option[Span])

abstract class Workload {
  def name: String

  /** Input lines one operation consumes (a dedup doc is one line). */
  def linesPerOp: Long

  /** The generated inputs as text lines, in order — what [[setup]]
    * materializes, and what the generator checks digest.
    */
  def generated: Seq[(String, Dataset[String])]

  /** Generates and materializes the inputs. */
  def setup(): Unit

  /** One round: a whole run (one op) or a whole incremental cycle (one op
    * per batch). Outputs are checked outside the timed region.
    */
  def round(tracer: Option[Tracer]): Seq[Op]

  /** The untimed warm-up that ends set-up: one round by default. */
  def warmUp(): Seq[Op] = round(None)

  /** Checks that run once, after all rounds: returns `ops` with the ops
    * whose rounds fail them marked failed.
    */
  def verify(ops: Seq[Op]): Seq[Op] = ops
}

object Exec {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds so far of each live Java thread: the driver, task and
    * Spark service threads, but not the JIT compiler or GC threads.
    */
  private def cpuByThread(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  private def cpuSince(before: Map[Long, Long]): Double =
    cpuByThread().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  /** Runs `plain` timed, or `staged` as one traced op. */
  def apply[T](tracer: Option[Tracer])(plain: => T)(
      staged: Tracer => T): (T, Double, Double, Option[Span]) = {
    val c0 = cpuByThread()
    tracer match {
      case None =>
        val t0 = System.nanoTime()
        val r = plain
        (r, (System.nanoTime() - t0) / 1e9, cpuSince(c0), None)
      case Some(t) =>
        val (r, root) = t.op(staged(t))
        (r, root.seconds, cpuSince(c0), Some(root))
    }
  }
}

/** Output checks. Each returns the failures found; empty means correct. */
object Check {
  type Scored = Seq[(String, String, Double)]

  def rows(df: DataFrame): Scored =
    df.select("path1", "path2", "score").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))

  /** Closed-form planted families: `groups` twin pairs at 1.0 (1e-9),
    * `groups` disjoint pairs at exactly 0.0, `groups` partial pairs
    * strictly inside (0, 1).
    */
  def families(rows: Scored, groups: Int): Seq[String] = {
    def fam(tag: String) = rows.filter(_._1.contains(s"V:$tag"))
    val twin = fam("vtw")
    val dj = fam("vdj")
    val pt = fam("vpt")
    Seq(
      (twin.size == groups && twin.forall(r => math.abs(r._3 - 1.0) <= 1e-9),
        s"twins: ${twin.size} scored, want $groups at 1.0"),
      (dj.size == groups && dj.forall(_._3 == 0.0),
        s"disjoint: ${dj.size} scored, want $groups at 0.0"),
      (pt.size == groups && pt.forall(r => r._3 > 0.0 && r._3 < 1.0),
        s"partial: ${pt.size} scored, want $groups inside (0, 1)")
    ).collect { case (false, msg) => msg }
  }

  /** Same pairs, scores equal within 1e-9. */
  def same(a: Scored, b: Scored, what: String): Seq[String] = {
    val x = a.sortBy(r => (r._1, r._2))
    val y = b.sortBy(r => (r._1, r._2))
    val ok = x.size == y.size && x.zip(y).forall { case (p, q) =>
      p._1 == q._1 && p._2 == q._2 && math.abs(p._3 - q._3) <= 1e-9
    }
    if (ok) Nil else Seq(s"$what: ${x.size} vs ${y.size} rows differ")
  }
}

/** The DIRT lineage one public layer call at a time, each layer's input
  * materialized before its span starts. Returns the persisted scores.
  */
object Stages {
  private val Mem = StorageLevel.MEMORY_AND_DISK

  def dirt(t: Tracer, corpus: Dataset[String], inputLines: Long,
      testLines: Seq[String]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def counted[T <: Dataset[_]](d: T): (T, Long) = {
      d.persist(Mem)
      (d, d.count())
    }
    val (sent, nSent) = t.span("text.parse")(
      counted(DirtPipeline.parseCorpus(corpus)))(r =>
      (r._2, Some(r._2.toDouble / inputLines)))
    val (inst, nInst) = t.span("text.extract")(
      counted(DirtPipeline.extractInstances(sent)))(r => (r._2, None))
    sent.unpersist()
    val (tr, nTr) = t.span("pipeline.triples")(
      counted(DirtPipeline.triples(inst)))(r =>
      (r._2, Some(r._2.toDouble / (2.0 * nInst))))
    inst.unpersist()
    val (sw, ps, n, nMargins) = t.span("pipeline.margins") {
      val (sw, nSw) = counted(DirtPipeline.swMargins(tr))
      val (ps, nPs) = counted(DirtPipeline.psMargins(tr))
      (sw, ps, DirtPipeline.globalN(tr), nSw + nPs)
    }(r => (r._4, None))
    val (mi, _) = t.span("pipeline.mi")(
      counted(DirtPipeline.miFeatures(tr, sw, ps, n)))(r =>
      (r._2, Some(r._2.toDouble / nTr)))
    val (sm, _) = t.span("pipeline.summi")(
      counted(DirtPipeline.sumMi(mi)))(r => (r._2, None))
    val pairs = t.span("pipeline.test_pairs")(
      DirtPipeline.testPairs(testLines))(p =>
      (p.size.toLong, Some(p.size.toDouble / testLines.size)))
    val pairsDf = pairs.toDF("p1", "p2")
    t.span("pipeline.similarity")(
      counted(DirtPipeline.similarity(mi, sm, pairsDf)))(r =>
      (r._2, Some(r._2.toDouble / pairs.size)))._1
  }
}

/** `zipf_lifecycle`: the DirtCli path over text files written at set-up —
  * pipeline, persisted scores, TSV sink, evaluation sweep.
  */
final class ZipfLifecycle(spark: SparkSession, seed: Long, zipfLines: Long,
    groups: Int, work: Path, parts: Int) extends Workload {
  val name = "zipf_lifecycle"
  val linesPerOp: Long = zipfLines + groups.toLong * Gen.LinesPerGroup
  private val corpusDir = work.resolve("zipf_corpus").toString
  private val outDir = work.resolve("zipf_scores").toString
  private val files = Seq("test", "pos", "neg").map(f => work.resolve(s"zipf_$f.txt"))

  private val (test, pos, neg) = Gen.zipfTestSet(seed, 0 until groups, 100, 200)

  def generated: Seq[(String, Dataset[String])] = {
    import spark.implicits._
    Seq("corpus" -> Gen.dirtCorpus(spark, seed, 1, zipfLines,
        (0 until groups).toArray, parts),
      "test_set" -> (test ++ pos ++ neg).toDS())
  }

  def setup(): Unit = {
    generated.head._2.write.mode("overwrite").text(corpusDir)
    files.zip(Seq(test, pos, neg)).foreach { case (f, ls) =>
      Files.write(f, ls.asJava, UTF_8)
    }
  }

  private def readTsv(): Check.Scored =
    Files.list(java.nio.file.Paths.get(outDir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p, UTF_8).asScala)
      .map { l =>
        val f = l.split("\t")
        (f(0), f(1), f(2).toDouble)
      }

  def round(tracer: Option[Tracer]): Seq[Op] = {
    def inputs = {
      val Seq(test, pos, neg) =
        files.map(f => Files.readAllLines(f, UTF_8).asScala.toSeq)
      (spark.read.textFile(corpusDir), test, pos, neg)
    }
    val ((scored, report), wall, cpu, root) = Exec(tracer) {
      val (corpus, test, pos, neg) = inputs
      val scored = DirtPipeline.run(spark, corpus, test)
        .persist(StorageLevel.MEMORY_AND_DISK)
      DirtCli.writeTsv(scored, outDir)
      (scored, Evaluate.evaluate(scored, pos, neg))
    } { t =>
      val (corpus, test, pos, neg) = inputs
      val scored = Stages.dirt(t, corpus, linesPerOp, test)
      t.span("cli.write_tsv")(DirtCli.writeTsv(scored, outDir))(_ =>
        (scored.count(), None))
      (scored, t.span("eval.evaluate")(Evaluate.evaluate(scored, pos, neg))(r =>
        (r.scoredPairs.toLong, None)))
    }
    val rows = Check.rows(scored)
    val errs = Check.families(rows, groups) ++
      Check.same(readTsv(), rows, "TSV read back vs scored rows") ++
      (if (report.scoredPairs > 0) Nil else Seq("evaluation saw no scored pairs"))
    Seq(Report.op(name, wall, cpu, errs, root))
  }
}

/** `incremental`: seeded Zipfian batches folded one by one through
  * `DirtIncremental.applySimBatch`, the scored view forced after each.
  * One op is one batch; a round is one cycle over every batch. After all
  * rounds, each cycle's final view is checked against one from-scratch
  * `DirtPipeline.run`.
  */
final class Incremental(spark: SparkSession, seed: Long, batches: Int,
    batchLines: Long, groups: Int, parts: Int) extends Workload {
  require(groups % batches == 0, "planted groups must split evenly into batches")
  val name = "incremental"
  private val perBatch = groups / batches
  val linesPerOp: Long = batchLines + perBatch.toLong * Gen.LinesPerGroup
  private val testLines = Gen.zipfTestSet(seed, 0 until groups, 50, 100)._1
  private var data: IndexedSeq[Dataset[String]] = _
  // Each full cycle's final view and its ops, for [[verify]].
  private val finals = scala.collection.mutable.ArrayBuffer.empty[(Check.Scored, Seq[Op])]
  // The last cycle's state, released when the next cycle starts, so the
  // heap can be read with it held.
  private var held: Option[DirtIncremental.SimState] = None

  def generated: Seq[(String, Dataset[String])] =
    (0 until batches).map { b =>
      s"batch$b" -> Gen.dirtCorpus(spark, seed, 10 + b, batchLines,
        (b until groups by batches).toArray, parts)
    }

  def setup(): Unit = data = generated.map(_._2.localCheckpoint(true)).toIndexedSeq

  def round(tracer: Option[Tracer]): Seq[Op] = {
    val (view, ops) = cycle(batches, tracer)
    finals += ((view, ops))
    ops
  }

  /** Warm-up folds two batches: after one, the JIT is still compiling the
    * planning and scheduling code a fold's 55 jobs spend most of their
    * time in. It has no from-scratch comparison.
    */
  override def warmUp(): Seq[Op] = cycle(2, None)._2

  override def verify(ops: Seq[Op]): Seq[Op] = {
    val scratch = Check.rows(
      DirtPipeline.run(spark, data.reduce(_ union _), testLines))
    val failed = finals.toSeq.flatMap { case (view, cycleOps) =>
      val errs = Check.same(view, scratch, "maintained view vs from-scratch run")
      errs.foreach(e => System.err.println(s"[perfbench] $name CHECK FAILED: $e"))
      if (errs.isEmpty) Nil else cycleOps
    }
    finals.clear()
    ops.map(o => if (failed.exists(_ eq o)) o.copy(ok = false) else o)
  }

  private def cycle(folds: Int, tracer: Option[Tracer]): (Check.Scored, Seq[Op]) = {
    held.foreach(DirtIncremental.release)
    held = None
    var sim = DirtIncremental.emptySim(spark, testLines)
    val done = (0 until folds).map { b =>
      val (rows, wall, cpu, root) = Exec(tracer) {
        sim = DirtIncremental.applySimBatch(sim, data(b))
        Check.rows(DirtIncremental.scoredPairs(sim))
      } { t =>
        sim = t.span("streaming.fold")(
          DirtIncremental.applySimBatch(sim, data(b)))(s =>
          (s.memberFeatures.count(), None))
        t.span("streaming.score")(
          Check.rows(DirtIncremental.scoredPairs(sim)))(r =>
          (r.size.toLong, None))
      }
      (rows, wall, cpu, root, Check.families(rows, (b + 1) * perBatch))
    }
    held = Some(sim)
    (done.last._1, done.map { case (_, wall, cpu, root, errs) =>
      Report.op(name, wall, cpu, errs, root)
    })
  }
}

/** `dedup_graph`: prefix-filtered Jaccard pairs, then connected
  * components, on adversarial planted near-duplicate docs.
  */
final class DedupGraph(spark: SparkSession, seed: Long, docs: Long,
    parts: Int) extends Workload {
  val name = "dedup_graph"
  val linesPerOp: Long = docs
  private var input: DataFrame = _
  private var family: Long => Long = _
  private var familyMin: Map[Long, Long] = _

  private def docsDf = Gen.dedupDocs(spark, seed, docs, parts)

  def generated: Seq[(String, Dataset[String])] = {
    import spark.implicits._
    Seq("docs" -> docsDf.select(
      org.apache.spark.sql.functions.concat_ws("\t", $"doc_id", $"text")).as[String])
  }

  def setup(): Unit = {
    input = docsDf.localCheckpoint(true)
    family = Gen.dedupFamily(seed, docs)
    familyMin = (0L until docs).groupBy(family).view.mapValues(_.min).toMap
  }

  def round(tracer: Option[Tracer]): Seq[Op] = {
    val ((pairs, comps), wall, cpu, root) = Exec(tracer) {
      val pairs = Dedup.jaccardPairs(input, threshold = 0.5).localCheckpoint(true)
      (pairs, DupGraph.components(pairs).collect())
    } { t =>
      val pairs = t.span("operators.jaccard")(
        Dedup.jaccardPairs(input, threshold = 0.5).localCheckpoint(true))(p =>
        (p.count(), None))
      (pairs, t.span("operators.components")(
        DupGraph.components(pairs).collect())(c => (c.length.toLong, None)))
    }
    val pr = pairs.select("id1", "id2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val half = docs / 2
    val wrong = pr.filter { case (a, b, j) =>
      val f = family(a)
      val want = if (f % 4 == 0) 1.0 else 11.0 / 15.0
      a == b || f != family(b) || math.abs(j - want) > 1e-6
    }
    val badPair = wrong.length
    val pairFams = pr.map(p => family(p._1)).distinct.length
    val compOf = comps.map(r => (r.getAs[Long]("id"), r.getAs[Long]("component")))
    val badComp = compOf.count { case (id, c) => familyMin(family(id)) != c }
    val errs = Seq(
      (pr.length == half && pairFams == half && badPair == 0,
        s"pairs: ${pr.length} ($badPair wrong, e.g. ${wrong.headOption}; " +
          s"$pairFams families), want $half"),
      (compOf.length == docs && compOf.map(_._2).distinct.length == half &&
        badComp == 0,
        s"components: ${compOf.length} labels, $badComp wrong, want $half")
    ).collect { case (false, msg) => msg }
    Seq(Report.op(name, wall, cpu, errs, root))
  }
}

object Report {
  def op(workload: String, wall: Double, cpu: Double, errs: Seq[String],
      root: Option[Span]): Op = {
    errs.foreach(e => System.err.println(s"[perfbench] $workload CHECK FAILED: $e"))
    Op(wall, cpu, errs.isEmpty, root)
  }
}
