package dagbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DagbenchHooks
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval: a DAG run, a layer, a public call, or the
  * construct / land halves of a call. `parent` is -1 for a root. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    loadStart: Double, loadEnd: Double) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Intervals {

  /** Length of [lo, hi] covered by the union of `ivs`. */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its length minus the part its children cover. */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long =
    (span._2 - span._1) - covered(span._1, span._2, children)
}

/** Counters of the jobs and tasks that ran under one span. */
final class SpanCounters {
  var jobs = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var maxTaskMs = 0L
  var rowsWritten = 0L
  var planMs = 0L
  val jobIntervals = ArrayBuffer[(Long, Long)]()
}

/** The benchmark's one SparkListener. Every job runs under the job
  * group of the innermost open span (set by [[Tracer]]), so jobs,
  * their stages and tasks, and the SQL executions that ran them are
  * attributed to that span. When tracing is off only the run-wide
  * shuffle total is kept. */
final class BenchListener(traced: Boolean) extends SparkListener {
  @volatile var totalShuffleBytes = 0L
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  val counters = new ConcurrentHashMap[Int, SpanCounters]()

  private def spanOf(group: String): Int =
    if (group == null) -1 else group.toIntOption.getOrElse(-1)
  private def c(span: Int): SpanCounters =
    counters.computeIfAbsent(span, _ => new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    val span = spanOf(Option(e.properties)
      .map(_.getProperty("spark.jobGroup.id")).orNull)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    jobSpan.put(e.jobId, (span, e.time))
    val k = c(span)
    k.synchronized { k.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
    Option(jobSpan.remove(e.jobId)).foreach { case (span, t0) =>
      val k = c(span)
      k.synchronized { k.jobIntervals += ((t0, e.time)) }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val sw = m.shuffleWriteMetrics.bytesWritten
    synchronized { totalShuffleBytes += sw }
    if (traced) {
      val k = c(Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(-1))
      k.synchronized {
        k.taskCpuNs += m.executorCpuTime
        k.taskRunMs += m.executorRunTime
        k.shuffleBytes += sw
        k.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        k.maxTaskMs = math.max(k.maxTaskMs, m.executorRunTime)
        k.rowsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (traced) e match {
    case s: SparkListenerSQLExecutionStart =>
      execSpan.put(s.executionId, spanOf(s.jobGroupId.orNull))
    case s: SparkListenerSQLExecutionEnd =>
      Option(execSpan.remove(s.executionId)).foreach { span =>
        val k = c(span.intValue)
        val ms = DagbenchHooks.planMs(s)
        k.synchronized { k.planMs += ms }
      }
    case _ => ()
  }
}

/** Span recorder. With tracing off `span` only runs its body: no clock
  * reads, no job groups, no listener bookkeeping. */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  val listener = new BenchListener(enabled)
  sc.addSparkListener(listener)
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val l0 = Host.loadavg()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body finally {
        val t1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.toString, name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, name, layer, parent, t0, t1, ms0, ms1, l0, Host.loadavg())
      }
    }

  /** Wait for the listener bus, so counters cover every finished job. */
  def drain(): Unit = DagbenchHooks.drain(sc, 120000L)

  /** Per-layer metrics of the spans under `root` (one DAG run). */
  def layerMetrics(root: Span, cores: Int): Map[String, Double] = {
    val inRun = spans.filter(s => s.startNs >= root.startNs && s.endNs <= root.endNs)
    val children = inRun.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).toSeq.flatMap(subtree)
    val layerSpans = children.getOrElse(root.id, Nil).toSeq
    val cs = listener.counters.asScala
    Layers.all.flatMap { l =>
      val tops = layerSpans.filter(_.layer == l)
      val all = tops.flatMap(subtree)
      val k = all.flatMap(s => cs.get(s.id))
      val wall = tops.map(_.seconds).sum
      val gapMs = tops.map { t =>
        val jobs = subtree(t).flatMap(s => cs.get(s.id)).flatMap(_.jobIntervals)
        Intervals.selfTime((t.startMs, t.endMs), jobs.toSeq)
      }.sum
      val runMs = k.map(_.taskRunMs).sum
      Seq(
        "wall_s" -> wall,
        "construct_s" -> all.filter(_.name == "construct").map(_.seconds).sum,
        "plan_s" -> k.map(_.planMs).sum / 1000.0,
        "driver_gap_s" -> gapMs / 1000.0,
        "task_cpu_s" -> k.map(_.taskCpuNs).sum / 1e9,
        "occupancy" -> (if (wall > 0) runMs / 1000.0 / (wall * cores) else 0.0),
        "jobs" -> k.map(_.jobs).sum.toDouble,
        "shuffle_bytes" -> k.map(_.shuffleBytes).sum.toDouble,
        "shuffle_records" -> k.map(_.shuffleRecords).sum.toDouble,
        "spill_bytes" -> k.map(_.spillBytes).sum.toDouble,
        "max_task_s" -> (if (k.isEmpty) 0.0 else k.map(_.maxTaskMs).max / 1000.0),
        "rows_out" -> k.map(_.rowsWritten).sum.toDouble
      ).map { case (m, v) => s"$l.$m" -> v }
    }.toMap
  }

  /** Share of the run's wall time that its layer spans cover. */
  def coverage(root: Span): Double = {
    val tops = spans.filter(_.parent == root.id).map(s => (s.startNs, s.endNs))
    Intervals.covered(root.startNs, root.endNs, tops.toSeq).toDouble /
      math.max(1L, root.endNs - root.startNs)
  }
}

object Layers {
  val all: Seq[String] = Seq("ingest", "resolve", "works", "authors",
    "entities", "awards", "serve", "core", "operators")
  val perLayer: Seq[String] = Seq("wall_s", "construct_s", "plan_s",
    "driver_gap_s", "task_cpu_s", "occupancy", "jobs", "shuffle_bytes",
    "shuffle_records", "spill_bytes", "max_task_s", "rows_out")
  val ratios: Seq[String] = Seq("resolve.adopt_ratio", "authors.match_ratio",
    "operators.dup_precision")
}

object Host {
  def loadavg(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.split(" ")(0).toDouble finally s.close()
    } catch { case _: Throwable => -1.0 }

  /** Peak resident set of this process in MiB (VmHWM). */
  def peakRssMb(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/self/status")
      try s.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally s.close()
    } catch { case _: Throwable => 0.0 }

  /** CPU time of this JVM (all threads: driver, tasks, GC, JIT), ns. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }
}
