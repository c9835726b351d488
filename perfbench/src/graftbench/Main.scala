package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> [--trace-out <file>]
  *
  * Set-up (session start, input generation, one untraced warm-up round)
  * is timed as `setup_s`. With `--trace 0` the measured rounds run
  * untraced and the end-to-end metrics are printed; with `--trace 1`
  * untraced and traced rounds alternate, and the per-layer ledger is
  * printed and written to `--trace-out`. The last stdout line is the
  * result object.
  */
object Main {

  /** Per-workload sizes. Each is chosen so one operation takes a few
    * seconds on a 4-core machine, and a run stays well inside its
    * time budget.
    */
  val Workloads = Seq("zipf_lifecycle", "incremental", "dedup_graph")

  def workload(name: String, spark: SparkSession, seed: Long, work: Path,
      cores: Int): Workload = name match {
    case "zipf_lifecycle" => new ZipfLifecycle(spark, seed,
      zipfLines = 60000, groups = 40, work = work, parts = cores)
    case "incremental" => new Incremental(spark, seed, batches = 5,
      batchLines = 2000, groups = 15, parts = cores)
    case "dedup_graph" => new DedupGraph(spark, seed, docs = 9000,
      parts = cores)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val wl = workload(name, spark, seed, work, cores)
    // Everything a round cached is released, blocking, before the next
    // round starts; only the generated inputs stay.
    lazy val inputRdds = spark.sparkContext.getPersistentRDDs.keySet
    def settle(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!inputRdds(id)) rdd.unpersist(blocking = true)
      }
    }
    def guarded(body: => Seq[Op]): Seq[Op] =
      try body
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name round failed: $e")
          e.printStackTrace()
          Seq(Op(0.0, 0.0, ok = false, None))
      }

    def runRound(tracer: Option[Tracer]): Seq[Op] = {
      settle()
      guarded(wl.round(tracer))
    }
    // Rounds run back to back; the last is the one that ends nearest the
    // time limit.
    def rounds(budget: Double)(round: => Seq[Op]): Seq[Op] = {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      val ops = ArrayBuffer.empty[Op]
      var last = 0.0
      do {
        val r0 = elapsed
        ops ++= round
        last = elapsed - r0
      } while (elapsed + last / 2 < budget)
      ops.toSeq
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def since = (System.currentTimeMillis() - jvmStart) / 1000.0
    val sessionS = since
    wl.setup()
    inputRdds
    val inputS = since
    val warm = guarded(wl.warmUp())
    val setupS = since
    System.err.println(f"[perfbench] $name setup: session $sessionS%.2f s, " +
      f"inputs ${inputS - sessionS}%.2f s, warm-up ${setupS - inputS}%.2f s " +
      s"(${warm.map(o => f"${o.wallS}%.2f").mkString(",")})")

    val (measured, metrics) =
      if (!trace) {
        val timed = rounds(seconds)(runRound(None))
        // Read while the last round's working set is still held; no timed
        // op follows.
        val heapMb = Heap.usedAfterGc()
        val ops = wl.verify(timed)
        val good = ops.filter(_.ok)
        val wall = median(good.map(_.wallS))
        (ops, Seq(
          ("lines_per_s", if (wall > 0) wl.linesPerOp / wall else 0.0, "lines/s"),
          ("cpu_s", median(good.map(_.cpuS)), "s"),
          ("retained_heap_mb", heapMb, "MB"),
          ("setup_s", setupS, "s")))
      } else {
        val tracer = new Tracer(spark.sparkContext)
        val plain = ArrayBuffer.empty[Op]
        // Untraced and traced rounds alternate, so both run on an equally
        // warm JIT and the overhead compares like with like.
        val traced = rounds(seconds) {
          plain ++= runRound(None)
          runRound(Some(tracer))
        }
        Files.write(Paths.get(opt("trace-out")),
          tracer.toJson(name, seed).getBytes(UTF_8))
        val ops = wl.verify(plain.toSeq ++ traced)
        val ledger = Ledger.metrics(tracer, ops.drop(plain.size), cores,
          median(ops.take(plain.size).filter(_.ok).map(_.wallS)))
        Ledger.print(name, ledger)
        (ops, ledger)
      }

    val all = warm ++ measured
    val failed = all.count(!_.ok)
    val result = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> all.size,
      "failed" -> failed,
      "metrics" -> Json.Raw(metrics.map { case (k, v, unit) =>
        s"${Json.str(k)}:${Json.obj("value" -> v, "unit" -> unit)}"
      }.mkString("{", ",", "}")))
    spark.stop()
    System.err.println(s"[perfbench] $name seed=$seed ops=${all.size} " +
      s"failed=$failed walls=${measured.map(o => f"${o.wallS}%.3f").mkString(",")}")
    println(result)
    System.out.flush()
    sys.exit(0)
  }
}

/** Heap use after a forced full collection, read only where no timed op
  * follows.
  */
object Heap {
  /** Two collections with a pause between them, so blocks whose cleanup
    * the first one triggers (broadcasts, shuffles) are gone when heap use
    * is read.
    */
  def usedAfterGc(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** Per-layer ledger over the traced ops: each metric is the median over
  * ops of its per-op value (the sum over that op's spans of the layer).
  * A layer a workload does not call reads 0.
  */
object Ledger {
  val Layers = Seq(
    "text.parse", "text.extract", "pipeline.triples", "pipeline.margins",
    "pipeline.mi", "pipeline.summi", "pipeline.test_pairs",
    "pipeline.similarity", "cli.write_tsv", "eval.evaluate",
    "streaming.fold", "streaming.score", "operators.jaccard",
    "operators.components")

  val Ratios = Seq(
    "text.parse" -> "kept_ratio", "pipeline.triples" -> "combine_ratio",
    "pipeline.mi" -> "kept_ratio", "pipeline.test_pairs" -> "kept_ratio",
    "pipeline.similarity" -> "active_ratio")

  val Units = Map("self_s" -> "s", "records_out" -> "count",
    "jobs" -> "count", "task_cpu_s" -> "s", "idle_frac" -> "fraction",
    "gc_s" -> "s", "spill_mb" -> "MB", "shuffle_write_mb" -> "MB")

  def metrics(tracer: Tracer, ops: Seq[Op], cores: Int,
      plainWall: Double): Seq[(String, Double, String)] = {
    val perOp: Seq[Map[String, Double]] = ops.flatMap(_.root).map { root =>
      val kids = tracer.children(root)
      val layer = Layers.flatMap { l =>
        val ss = kids.filter(_.name == l)
        val wall = ss.map(_.seconds).sum
        val self = ss.map(s => s.seconds - tracer.children(s).map(_.seconds).sum).sum
        val run = ss.map(_.runMs).sum / 1000.0
        Seq(
          s"$l.self_s" -> self,
          s"$l.records_out" -> ss.map(_.recordsOut).sum.toDouble,
          s"$l.jobs" -> ss.map(_.jobs).sum.toDouble,
          s"$l.task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
          s"$l.idle_frac" -> (if (wall > 0) 1.0 - run / (wall * cores) else 0.0),
          s"$l.gc_s" -> ss.map(_.gcMs).sum / 1000.0,
          s"$l.spill_mb" -> ss.map(_.spillBytes).sum / 1e6,
          s"$l.shuffle_write_mb" -> ss.map(_.shuffleDataBytes).sum / 1e6)
      }
      val ratios = Ratios.map { case (l, r) =>
        s"$l.$r" -> kids.filter(_.name == l).flatMap(_.ratio).headOption.getOrElse(0.0)
      }
      (layer ++ ratios :+
        ("trace.uncovered_s" -> (root.seconds - kids.map(_.seconds).sum))).toMap
    }
    val tracedWall = Main.median(ops.filter(_.ok).map(_.wallS))
    val names = Layers.flatMap(l => Units.keys.toSeq.sorted.map(m => s"$l.$m")) ++
      Ratios.map { case (l, r) => s"$l.$r" } :+ "trace.uncovered_s"
    names.map { n =>
      val unit = Units.getOrElse(n.split('.').last, if (n.endsWith("_s")) "s" else "ratio")
      (n, Main.median(perOp.map(_.getOrElse(n, 0.0))), unit)
    } :+ ("trace.overhead_frac",
      if (plainWall > 0) tracedWall / plainWall - 1.0 else 0.0, "fraction")
  }

  def print(name: String, ledger: Seq[(String, Double, String)]): Unit =
    ledger.filter(_._2 != 0.0).foreach { case (k, v, u) =>
      System.err.println(f"[ledger] $name%-15s $k%-42s $v%14.4f $u")
    }
}
