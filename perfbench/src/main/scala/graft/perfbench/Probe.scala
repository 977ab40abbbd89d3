package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters for one operation, gathered from a SparkListener, a
  * QueryExecutionListener, the codegen metrics and the JVM MXBeans. Only a
  * traced run installs it; untraced runs measure wall time alone.
  */
final class Probe(spark: SparkSession) {
  private val lock = new Object
  private var jobs, stages, tasks = 0L
  private var cpuNs, shuffleWrite, spill, inputBytes, peakTaskMem = 0L
  private var planMs = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobs += 1
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stages += 1
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        inputBytes += m.inputMetrics.bytesRead
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks += 1
      if (e.taskMetrics != null)
        peakTaskMem = math.max(peakTaskMem, e.taskMetrics.peakExecutionMemory)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized {
        val ph = qe.tracker.phases
        planMs += Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def reset(): Unit = lock.synchronized {
    jobs = 0; stages = 0; tasks = 0
    cpuNs = 0; shuffleWrite = 0; spill = 0; inputBytes = 0; peakTaskMem = 0
    planMs = 0
    jobSpans.clear()
  }

  /** Runs `body` and returns its result with the engine counters of what
    * it did. Wall time excludes the bus drain.
    */
  def measure[T](body: => T): (T, Map[String, Double]) = {
    PerfbenchBus.drain(spark.sparkContext)
    reset()
    val gc0 = Probe.gcMs
    val jit0 = Probe.jitMs
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    PerfbenchBus.drain(spark.sparkContext)
    val m = lock.synchronized {
      val inJobs = Probe.unionLength(jobSpans.toSeq.map { case (s, e) =>
        (math.max(s, w0), math.min(e, w1)) }) / 1e3
      Map(
        "wall_s" -> wall,
        "spark.plan_s" -> planMs / 1e3,
        "spark.driver_s" -> math.max(0.0, wall - inJobs),
        "spark.jobs" -> jobs.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.executor_cpu_s" -> cpuNs / 1e9,
        "spark.cpu_util" -> cpuNs / 1e9 / (wall * Probe.cores(spark)),
        "spark.shuffle_write_mb" -> shuffleWrite / 1e6,
        "spark.spill_mb" -> spill / 1e6,
        "spark.input_mb" -> inputBytes / 1e6,
        "spark.peak_exec_mem_mb" -> peakTaskMem / 1e6,
        "codegen.compiles" ->
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0).toDouble,
        "jvm.gc_s" -> (Probe.gcMs - gc0) / 1e3,
        "jvm.jit_s" -> (Probe.jitMs - jit0) / 1e3)
    }
    (out, m)
  }
}

object Probe {
  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(spans: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    spans.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }
}

/** In-memory spans around the benchmark's calls into each layer: name,
  * start, end, parent span and operation id. Spans are recorded only inside
  * [[on]]; they are written out when the run ends, and self time (duration
  * minus the part covered by child spans) is derived from them.
  */
final class Trace {
  import Trace.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var op = -1
  private var active = false

  def on[T](body: => T): T = {
    val was = active
    active = true
    try body finally active = was
  }

  def operation[T](name: String)(body: => T): T = {
    if (active) op += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self seconds per span name, one entry per operation that has it. */
  def selfTimes: Map[String, Seq[Double]] = {
    val children = done.groupBy(_.parent)
    done.toSeq.map { s =>
      val covered = Probe.unionLength(children.getOrElse(s.id, Nil).toSeq.map(c =>
        (c.startNs, c.endNs)))
      (s.op, s.name, (s.endNs - s.startNs - covered) / 1e9)
    }.groupBy { case (o, n, _) => (o, n) }
      .toSeq.map { case ((_, n), xs) => n -> xs.map(_._3).sum }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2) }
  }

  def toJson: String = done.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
