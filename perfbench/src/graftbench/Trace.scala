package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One layer call seen from outside the program: wall interval, parent
  * span, run id, the Spark work its jobs did, and what the caller
  * counted about its output.
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val run: Int, val start: Long) {
  var end: Long = start
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleDataBytes = 0L
  var shuffleWriteRecords = 0L
  var recordsOut = 0L
  var ratio: Option[Double] = None

  def seconds: Double = (end - start) / 1e9
}

/** Task counters keyed by span. The span id travels as a local property
  * of the calling thread; Spark copies local properties into the jobs
  * that broadcast and subquery threads submit on the caller's behalf,
  * whereas those threads replace the job group with their own.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val bySpan = mutable.Map.empty[Int, Span]

  def register(s: Span): Unit = synchronized { bySpan(s.id) = s }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.Property)))
      .map(_.toInt)
    id.flatMap(bySpan.get).foreach { s =>
      s.jobs += 1
      e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, s.id))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      sid <- stageSpan.get(e.stageId)
      s <- bySpan.get(sid)
      m <- Option(e.taskMetrics)
    } {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.spillBytes += m.diskBytesSpilled
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      // the exchanges' uncompressed row bytes: unlike the compressed bytes
      // written, their sum does not depend on the order rows arrive in
      s.shuffleDataBytes += e.taskInfo.accumulables.collect {
        case a if a.name.contains("data size") => a.update match {
          case Some(v: Long) => v
          case _ => 0L
        }
      }.sum
    }
  }
}

/** Span recorder. Spans stay in memory and are written out once, at the
  * end of the run ([[toJson]]).
  */
final class Tracer(sc: SparkContext) {
  private val listener = new SpanListener
  sc.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  private var run = 0

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime max 0L).sum

  /** Time `body` as span `name` under the current span. `out` gives the
    * layer's output count and optional useful/attempted ratio; it runs
    * after the span closes, so any job it needs is not charged to the
    * layer.
    */
  def span[T](name: String)(body: => T)(
      out: T => (Long, Option[Double]) = (_: T) => (0L, None)): T = {
    val s = new Span(spans.length, name, current, run, System.nanoTime())
    spans += s
    listener.register(s)
    val outer = current
    val outerProp = sc.getLocalProperty(Tracer.Property)
    current = s.id
    sc.setLocalProperty(Tracer.Property, s.id.toString)
    val gc0 = gcMillis
    val r =
      try body
      finally {
        s.end = System.nanoTime()
        s.gcMs = gcMillis - gc0
        current = outer
        sc.setLocalProperty(Tracer.Property, outerProp)
      }
    val (n, ratio) = out(r)
    s.recordsOut = n
    s.ratio = ratio
    r
  }

  /** One traced operation: a root span whose children are the layers.
    * Waits for the listener bus so every task of the op is attributed.
    */
  def op[T](body: => T): (T, Span) = {
    run += 1
    val id = spans.length
    val r = span("op")(body)()
    org.apache.spark.graftbench.Bus.drain(sc)
    (r, spans(id))
  }

  def children(root: Span): Seq[Span] = spans.filter(_.parent == root.id).toSeq

  def toJson(workload: String, seed: Long): String = {
    def one(s: Span): String = Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ns" -> s.start, "end_ns" -> s.end, "jobs" -> s.jobs,
      "tasks" -> s.tasks, "task_run_ms" -> s.runMs,
      "task_cpu_ns" -> s.cpuNs,
      "jvm_gc_ms" -> s.gcMs, "disk_spill_bytes" -> s.spillBytes,
      "shuffle_write_bytes" -> s.shuffleWriteBytes,
      "shuffle_data_bytes" -> s.shuffleDataBytes,
      "shuffle_write_records" -> s.shuffleWriteRecords,
      "records_out" -> s.recordsOut,
      "ratio" -> s.ratio.getOrElse(Double.NaN))
    Json.obj("workload" -> workload, "seed" -> seed,
      "spans" -> Json.Raw(spans.map(one).mkString("[", ",", "]")))
  }
}

object Tracer {
  val Property = "graftbench.span"
}

/** Minimal JSON writer: numbers, strings, booleans and pre-rendered raw
  * values. A non-finite double is written as null.
  */
object Json {
  final case class Raw(s: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other => other.toString
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
