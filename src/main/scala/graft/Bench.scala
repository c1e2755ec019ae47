package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Benchmark main: runs the queries `SPARK_GRAFT_ONLY`
  * selects (all by default) against SPARK_GRAFT_SF_DIR, writes one
  * record per query to `bench_results_verbose.json` and prints the
  * compact results line last on stdout.
  *
  * Measurement notes:
  *  - each query runs twice to the `noop` sink ([[Measure.run]]); the
  *    first pass absorbs JIT/codegen, the min is the repeatable number;
  *  - a table-listing warmup pass runs first so the first measured
  *    query doesn't absorb session startup;
  *  - the record keeps both pass times, the 1-min loadavg at query
  *    start and the task metrics of the fastest pass, so host
  *    contention can be told from a regression;
  *  - `spark.catalog.clearCache()` runs between queries, and any query
  *    that leaves persistent RDDs behind is reported under `leaked`
  *    (registered queries are contractually cache-free; QueriesSmokeSpec
  *    asserts it per query);
  *  - a query that throws is listed under `failed`, left out of the
  *    total, and makes the run exit non-zero.
  */
object Bench {

  /** One query's passes, the 1-min loadavg when it started, and the
    * error that ended it, if any. */
  private[graft] final case class Result(name: String,
      passes: Seq[Measure.Reading], loadStart: Double, error: Option[String]) {
    def best: Measure.Reading = passes.minBy(_.wallS)
  }

  private def loadavg: Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).map(_.toDouble).toSeq
      finally src.close()
    } catch { case NonFatal(_) => Seq.empty }

  /** Run `fn` to `noop` up to `passes` times; the first failure ends it. */
  private[graft] def measure(spark: SparkSession, listener: Measure.Listener,
      name: String, passes: Int)(fn: => DataFrame): Result = {
    spark.catalog.clearCache()
    val load = loadavg.headOption.getOrElse(0.0)
    val readings = Seq.newBuilder[Measure.Reading]
    var error: Option[String] = None
    for (_ <- 1 to passes if error.isEmpty)
      try readings += Measure.run(spark, listener)(fn)
      catch { case NonFatal(e) =>
        error = Some(String.valueOf(e.getMessage))
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
    Result(name, readings.result(), load, error)
  }

  /** Outlier re-runs come from the sweep's own readings: a query over
    * 1.5 s that started while the 1-min loadavg exceeded the host's
    * cores, or whose tasks spent more than half their run time off-CPU,
    * likely absorbed host contention. The 5 slowest such queries get
    * one more pass after the sweep, when the stall has likely passed. */
  private[graft] def rerunCandidates(results: Seq[Result], cores: Int): Seq[String] =
    results.filter { r =>
      r.error.isEmpty && r.best.wallS > 1.5 &&
        (r.loadStart > cores || r.best.taskRunMs > 2 * r.best.taskCpuMs)
    }.sortBy(-_.best.wallS).take(5).map(_.name)

  private def r3(v: Double): Double = math.round(v * 1000) / 1000.0
  private def str(s: String) = "\"" + s + "\""
  private def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")
  private def obj(kvs: (String, Any)*) =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** One query's record: pass times, loadavg at start, and the fastest
    * pass's jobs, driver gap, task totals and top 14 stages by run time. */
  private[graft] def queryJson(r: Result): String = {
    val b = r.best
    val stages = b.stages.take(14).map(s => obj("id" -> s.id,
      "wall_s" -> s.wallMs / 1e3, "tasks" -> s.tasks, "run_s" -> s.runMs / 1e3,
      "cpu_s" -> s.cpuMs / 1e3, "gc_s" -> s.gcMs / 1e3,
      "input_bytes" -> s.inputBytes, "shuffle_read_bytes" -> s.shuffleReadBytes,
      "shuffle_write_bytes" -> s.shuffleWriteBytes))
    obj("best_s" -> r3(b.wallS), "passes" -> arr(r.passes.map(p => r3(p.wallS).toString)),
      "load_start" -> r.loadStart, "jobs" -> b.jobs,
      "job_wall_s" -> b.jobWallMs / 1e3, "driver_gap_s" -> r3(b.driverGapS),
      "task_run_s" -> b.taskRunMs / 1e3, "task_cpu_s" -> b.taskCpuMs / 1e3,
      "gc_s" -> b.gcMs / 1e3, "shuffle_read_bytes" -> b.shuffleReadBytes,
      "shuffle_read_records" -> b.shuffleReadRecords,
      "shuffle_write_bytes" -> b.shuffleWriteBytes,
      "shuffle_write_records" -> b.shuffleWriteRecords,
      "max_task_s" -> b.maxTaskMs / 1e3, "stages" -> arr(stages))
  }

  /** The full record written to `bench_results_verbose.json`. */
  private[graft] def record(results: Seq[Result], leaked: Seq[String],
      reran: Seq[String], loadStart: Seq[Double], loadEnd: Seq[Double],
      sfDir: String): String = {
    val (failed, ok) = results.partition(_.error.nonEmpty)
    obj("metric" -> str("total"), "value" -> r3(ok.map(_.best.wallS).sum),
      "unit" -> str("sec"),
      "queries" -> ok.map(r => str(r.name) + ":" + queryJson(r)).mkString("{", ",", "}"),
      "failed" -> arr(failed.map(r => str(r.name))),
      "leaked" -> arr(leaked.map(str)), "reran" -> arr(reran.map(str)),
      "loadavg_start" -> arr(loadStart.map(_.toString)),
      "loadavg_end" -> arr(loadEnd.map(_.toString)), "sf" -> str(sfDir))
  }

  /** The contractual results line: per-query keys are the `qNN` prefix
    * (the full names are in the verbose record) and seconds carry one
    * decimal, floored and clamped at 0.05, so 152 queries fit in
    * ~1.7 KB. Failed queries are counted, not timed. */
  private[graft] def compactLine(results: Seq[(String, Double)],
      total: Double, sfDir: String, reran: Int, failed: Int,
      loadEnd: Seq[Double]): String = {
    val flo1 = (v: Double) => math.max(math.floor(v * 10) / 10, 0.05)
    val qs = results
      .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + flo1(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${flo1(total)},"unit":"sec","queries":$qs,"reran":$reran,"failed":$failed,"loadavg_end":${arr(loadEnd.map(_.toString))},"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = Measure.selected()
    val spark = Session.local("graft-bench", Session.cpus)
    val listener = Measure.attach(spark)
    val loadStart = loadavg

    graft.core.Tables.names.foreach { n =>
      try graft.core.Tables(spark, sfDir, n).count()
      catch { case NonFatal(_) => () }
    }

    val leaked = scala.collection.mutable.LinkedHashSet.empty[String]
    def measureQuery(name: String, passes: Int): Result = {
      val r = measure(spark, listener, name, passes)(
        SparkEntry.queries(name)(spark, sfDir))
      val rdds = spark.sparkContext.getPersistentRDDs
      if (rdds.nonEmpty) {
        leaked += name
        System.err.println(s"[bench] $name left persistent RDDs behind")
        // clearCache only drops catalog-tracked Dataset caches; an
        // RDD-API persist survives it and would taint the next query.
        rdds.values.foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
      }
      r
    }
    val firstPass = queries.map { case (name, _) => measureQuery(name, 2) }
    val reran = rerunCandidates(firstPass, Runtime.getRuntime.availableProcessors)
    val results = firstPass.map { r =>
      if (!reran.contains(r.name)) r
      else {
        System.err.println(s"[bench] ${r.name} ran under contention — re-running")
        val again = measureQuery(r.name, 1)
        r.copy(passes = r.passes ++ again.passes, error = again.error)
      }
    }
    spark.stop()

    val loadEnd = loadavg
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_results_verbose.json"),
      (record(results, leaked.toSeq, reran, loadStart, loadEnd, sfDir) + "\n")
        .getBytes("UTF-8"))
    val ok = results.filter(_.error.isEmpty)
    val failed = results.size - ok.size
    // the contractual results line is the last line on stdout
    println(compactLine(ok.map(r => r.name -> r.best.wallS),
      ok.map(_.best.wallS).sum, sfDir, reran.size, failed, loadEnd))
    if (failed > 0) sys.exit(1)
  }
}
