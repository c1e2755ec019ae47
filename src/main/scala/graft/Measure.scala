package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftListenerBus, SparkSession}
import scala.jdk.CollectionConverters._

/** The measurement harness the per-query mains share: one task-metrics
  * listener, one "run a DataFrame to the `noop` sink and read what it
  * cost", and one query selector. */
object Measure {

  /** One stage's task totals (times in ms). */
  final case class Stage(id: Int, wallMs: Long, tasks: Long, runMs: Long,
    cpuMs: Long, gcMs: Long, inputBytes: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long)

  /** What one run cost: wall time, the union of its job intervals, and
    * task metrics summed over every stage (times in ms). */
  final case class Reading(wallS: Double, jobs: Int, jobWallMs: Long,
      taskRunMs: Long, taskCpuMs: Long, gcMs: Long, shuffleReadBytes: Long,
      shuffleReadRecords: Long, shuffleWriteBytes: Long,
      shuffleWriteRecords: Long, maxTaskMs: Long, stages: Seq[Stage]) {
    /** Wall time no job covers: planning and driver work between jobs. */
    def driverGapS: Double = math.max(0.0, wallS - jobWallMs / 1e3)
  }

  // per-stage accumulator slots
  private final val Run = 0; private final val Cpu = 1; private final val Gc = 2
  private final val In = 3; private final val SrB = 4; private final val SrR = 5
  private final val SwB = 6; private final val SwR = 7; private final val Tasks = 8
  private final val MaxTask = 9; private final val Slots = 10

  /** Task metrics per stage and job intervals since the last [[reset]].
    * The bus calls it from one thread; readers [[drain]] first. */
  final class Listener extends SparkListener {
    private val stageAcc = new ConcurrentHashMap[Int, Array[Long]]()
    private val stageSpan = new ConcurrentHashMap[Int, (Long, Long)]()
    private val jobSpan = new ConcurrentHashMap[Int, (Long, Long)]()

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        val a = stageAcc.computeIfAbsent(t.stageId, _ => new Array[Long](Slots))
        a(Run) += m.executorRunTime
        a(Cpu) += m.executorCpuTime
        a(Gc) += m.jvmGCTime
        a(In) += m.inputMetrics.bytesRead
        a(SrB) += m.shuffleReadMetrics.totalBytesRead
        a(SrR) += m.shuffleReadMetrics.recordsRead
        a(SwB) += m.shuffleWriteMetrics.bytesWritten
        a(SwR) += m.shuffleWriteMetrics.recordsWritten
        a(Tasks) += 1
        a(MaxTask) = math.max(a(MaxTask), m.executorRunTime)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stageSpan.put(si.stageId,
        (si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L)))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobSpan.put(e.jobId, (e.time, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.computeIfPresent(e.jobId, (_, s) => (s._1, e.time))

    def reset(): Unit = { stageAcc.clear(); stageSpan.clear(); jobSpan.clear() }

    def reading(wallS: Double): Reading = {
      val acc = stageAcc.asScala.toSeq
      def sum(slot: Int) = acc.map(_._2(slot)).sum
      val stages = acc.map { case (id, a) =>
        val (s, e) = stageSpan.getOrDefault(id, (0L, 0L))
        Stage(id, math.max(0L, e - s), a(Tasks), a(Run), a(Cpu) / 1000000L,
          a(Gc), a(In), a(SrB), a(SwB))
      }.sortBy(-_.runMs)
      // union of the job intervals: broadcast jobs overlap their parent
      val spans = jobSpan.values.asScala.toSeq.sorted
      val (covered, _) = spans.foldLeft((0L, Long.MinValue)) {
        case ((tot, reach), (s, e)) =>
          if (e <= reach) (tot, reach) else (tot + e - math.max(s, reach), e)
      }
      Reading(wallS, spans.size, covered, sum(Run), sum(Cpu) / 1000000L,
        sum(Gc), sum(SrB), sum(SrR), sum(SwB), sum(SwR),
        if (acc.isEmpty) 0L else acc.map(_._2(MaxTask)).max, stages)
    }
  }

  def attach(spark: SparkSession): Listener = {
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Wait for the listener bus; 60 s without quiescence fails the run. */
  private def drain(spark: SparkSession): Unit =
    GraftListenerBus.drain(spark.sparkContext, 60000L)

  /** Build `df` and run it to the `noop` sink (so projection-only plans
    * are fully computed); the reading covers construction too, which
    * includes eager `Materialize` landings. */
  def run(spark: SparkSession, listener: Listener)(df: => DataFrame): Reading = {
    drain(spark)
    listener.reset()
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val wallS = (System.nanoTime() - t0) / 1e9
    drain(spark)
    listener.reading(wallS)
  }

  /** The registered queries a comma-separated `only` names, each by its
    * full name or its `qNN` prefix, sorted by name; all of them when
    * `only` is None. An unknown name or an empty list is an error. */
  def select(names: Iterable[String], only: Option[String]): Seq[String] = {
    val all = names.toSeq.sorted
    only.fold(all) { spec =>
      val wanted = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      def hit(n: String, w: String) = n == w || n.takeWhile(_ != '_') == w
      require(wanted.nonEmpty, s"query selection '$spec' names no query")
      val unknown = wanted.filterNot(w => all.exists(hit(_, w)))
      require(unknown.isEmpty, s"no registered query named ${unknown.mkString(", ")}")
      all.filter(n => wanted.exists(hit(n, _)))
    }
  }

  /** The queries `SPARK_GRAFT_ONLY` selects, with their builders. */
  def selected(): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val qs = SparkEntry.queries
    select(qs.keys, sys.env.get("SPARK_GRAFT_ONLY")).map(n => n -> qs(n))
  }
}
