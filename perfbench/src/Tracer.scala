package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters over one measured interval (an operation, or a sum
  * of operations). Times in seconds, sizes in MiB. */
final case class Layer(
    wallS: Double = 0, jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    noTaskS: Double = 0, taskRunS: Double = 0, taskCpuS: Double = 0,
    shuffleWriteMb: Double = 0, shuffleReadMb: Double = 0, spillMb: Double = 0,
    planMs: Double = 0, compiles: Long = 0, gcS: Double = 0) {

  def +(o: Layer): Layer = Layer(wallS + o.wallS, jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, noTaskS + o.noTaskS,
    taskRunS + o.taskRunS, taskCpuS + o.taskCpuS,
    shuffleWriteMb + o.shuffleWriteMb, shuffleReadMb + o.shuffleReadMb,
    spillMb + o.spillMb, planMs + o.planMs, compiles + o.compiles, gcS + o.gcS)

  /** Metric name → value, every `spark.*`-family counter; `per` divides
    * the additive ones (operations or passes the sum covers). */
  def metrics(prefix: String, cores: Int, per: Double): Seq[(String, Double)] = {
    val d = math.max(per, 1e-9)
    Seq(
      "spark.jobs" -> jobs / d,
      "spark.stages" -> stages / d,
      "spark.tasks" -> tasks / d,
      "spark.no_task_s" -> noTaskS / d,
      "spark.task_run_s" -> taskRunS / d,
      "spark.task_cpu_s" -> taskCpuS / d,
      "spark.core_util" -> (if (wallS > 0) taskRunS / (wallS * cores) else 0.0),
      "spark.shuffle_write_mb" -> shuffleWriteMb / d,
      "spark.shuffle_read_mb" -> shuffleReadMb / d,
      "spark.spill_mb" -> spillMb / d,
      "sql.plan_ms" -> planMs / d,
      "codegen.compiles" -> compiles / d,
      "jvm.gc_s" -> gcS / d).map { case (k, v) => (prefix + k, v) }
  }
}

/** One span: a call into a layer, with the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, run: String)

/** The benchmark's tracer: a `SparkListener` (jobs, stages, task run and
  * CPU time, shuffle and spill bytes, task intervals for the no-task
  * time), a `QueryExecutionListener` (the planning tracker's analysis,
  * optimization and planning phases), the whole-stage-codegen compile
  * count and the GC beans — plus named spans kept in memory and written
  * when the run ends. Installed only for traced runs. */
final class Tracer(spark: SparkSession, val cores: Int, run: String)
    extends SparkListener with QueryExecutionListener {

  private final case class TaskEv(launchMs: Long, finishMs: Long, runMs: Long,
      cpuNs: Long, shuffleW: Long, shuffleR: Long, spill: Long)

  private val tasks = ArrayBuffer.empty[TaskEv]
  private var jobs = 0L
  private var stages = 0L
  private var planMs = 0.0
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskEv(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      planMs += Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs.toDouble).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def drain(): Unit = ListenerBusDrain(spark.sparkContext)

  /** Run `body` as one measured interval and return its counters. The
    * listener bus is drained at both ends, so every event the body
    * caused is counted and none from before it. */
  def measure[T](body: => T): (T, Layer) = {
    drain()
    synchronized { tasks.clear(); jobs = 0; stages = 0; planMs = 0 }
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val g0 = gcMs
    val w0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = body
    val n1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    drain()
    val layer = synchronized {
      // union of task intervals clipped to the window: the rest of the
      // window is time in which no task ran
      val iv = tasks.map(t => (math.max(t.launchMs, w0), math.min(t.finishMs, w1)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else if (b > curB) curB = b
      }
      covered += curB - curA
      val wall = (n1 - n0) / 1e9
      Layer(wall, jobs, stages, tasks.size.toLong,
        math.max(0.0, wall - covered / 1e3),
        tasks.map(_.runMs).sum / 1e3, tasks.map(_.cpuNs).sum / 1e9,
        tasks.map(_.shuffleW).sum / 1048576.0, tasks.map(_.shuffleR).sum / 1048576.0,
        tasks.map(_.spill).sum / 1048576.0, planMs,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        (gcMs - g0) / 1e3)
    }
    (r, layer)
  }

  /** Record a span around `body`, parented to the enclosing span. */
  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, name, System.nanoTime(), 0L, run)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** Record an already-timed span (a phase the program reported through
    * its own telemetry), parented to `parent`, or to the enclosing span
    * when `parent` is -2. Returns its id. */
  def child(name: String, startNs: Long, endNs: Long, parent: Int = -2): Int = {
    val id = spans.size
    val p = if (parent == -2) stack.headOption.getOrElse(-1) else parent
    spans += Span(id, p, name, startNs, endNs, run)
    id
  }

  /** Write every span as one JSON object per line. */
  def writeSpans(path: String): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run":${Json.str(s.run)}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }

  def detach(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}

/** Spans when tracing is on; a plain call when it is off. */
final class Trace(val tracer: Option[Tracer]) {
  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
  def child(name: String, startNs: Long, endNs: Long, parent: Int = -2): Int =
    tracer.map(_.child(name, startNs, endNs, parent)).getOrElse(-1)
  /** A phase of `seconds` that ended just now. */
  def phase(name: String, seconds: Double): Unit = {
    val end = System.nanoTime()
    child(name, end - (seconds * 1e9).toLong, end)
    ()
  }
  /** `body` and its counters (None when tracing is off). */
  def measure[T](body: => T): (T, Option[Layer]) = tracer match {
    case Some(t) => val (r, l) = t.measure(body); (r, Some(l))
    case None => (body, None)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
