package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

/** The bench results record: the compact stdout line's size and keys,
  * the per-query fields of `bench_results_verbose.json`, failures kept
  * out of the total, outlier re-run choice, and the query selector
  * every per-query main shares. */
class BenchFloorSpec extends AnyFunSuite {

  private def reading(wallS: Double, runMs: Long = 1000, cpuMs: Long = 900) =
    Measure.Reading(wallS, jobs = 2, jobWallMs = 700, taskRunMs = runMs,
      taskCpuMs = cpuMs, gcMs = 30, shuffleReadBytes = 4096,
      shuffleReadRecords = 40, shuffleWriteBytes = 4096,
      shuffleWriteRecords = 40, maxTaskMs = 250,
      stages = Seq.tabulate(20)(i => Measure.Stage(i, 100, 4, 500 - i, 400,
        5, 1 << 20, 2048, 2048)))

  test("compact results line fits the 2000-char budget, unique qNN keys") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    // qNN prefixes must be unique or the compact line silently merges
    // two queries' results
    val prefixes = names.map(_.takeWhile(_ != '_'))
    assert(prefixes.distinct.size === names.size,
      s"duplicate qNN prefixes: ${prefixes.diff(prefixes.distinct).distinct}")
    // pessimistic: every query at 99.9 s (4-char values), 3-digit loads
    val res = names.map(_ -> 99.94)
    val line = Bench.compactLine(res, 9999.9, "testdata/sf0.1", 5, 5,
      Seq(99.99, 99.99, 99.99))
    assert(line.length < 1900, s"compact line ${line.length} chars")
    val json = new ObjectMapper().readTree(line)
    assert(json.get("metric").asText === "total" && json.get("unit").asText === "sec")
    assert(json.get("queries").size === names.size)
    // floored, never rounded up; a 0.01 s query clamps to 0.05
    assert(json.get("queries").get("q03").asDouble === 99.9)
    val tiny = Bench.compactLine(Seq("q01_x" -> 0.01), 0.01, "d", 0, 0, Nil)
    assert(tiny.contains("\"q01\":0.05"))
  }

  test("verbose record: per-query fields, failures out of the total") {
    val ok = Bench.Result("q01_ok", Seq(reading(2.0), reading(1.5)), 0.8, None)
    val bad = Bench.Result("q02_bad", Nil, 0.8, Some("boom"))
    val txt = Bench.record(Seq(ok, bad), Seq("q01_ok"), Nil,
      Seq(0.5, 0.4, 0.3), Seq(0.6, 0.5, 0.4), "/sf")
    val json = new ObjectMapper().readTree(txt)
    assert(json.get("value").asDouble === 1.5)
    assert(json.get("failed").get(0).asText === "q02_bad")
    assert(json.get("queries").get("q02_bad") === null)
    assert(json.get("leaked").get(0).asText === "q01_ok")
    assert(json.get("loadavg_start").size === 3)
    val q = json.get("queries").get("q01_ok")
    assert(q.get("best_s").asDouble === 1.5)
    assert(q.get("passes").size === 2 && q.get("passes").get(0).asDouble === 2.0)
    assert(q.get("load_start").asDouble === 0.8)
    assert(q.get("jobs").asInt === 2)
    assert(q.get("job_wall_s").asDouble === 0.7)
    assert(math.abs(q.get("driver_gap_s").asDouble - 0.8) < 1e-9)
    assert(q.get("task_run_s").asDouble === 1.0 && q.get("task_cpu_s").asDouble === 0.9)
    assert(q.get("gc_s").asDouble === 0.03)
    for (k <- Seq("shuffle_read_bytes", "shuffle_write_bytes"))
      assert(q.get(k).asLong === 4096, k)
    for (k <- Seq("shuffle_read_records", "shuffle_write_records"))
      assert(q.get(k).asLong === 40, k)
    assert(q.get("max_task_s").asDouble === 0.25)
    // top 14 stages by run time
    val stages = q.get("stages")
    assert(stages.size === 14 && stages.get(0).get("id").asInt === 0)
    assert(stages.get(0).get("run_s").asDouble === 0.5)
    assert(stages.get(0).get("input_bytes").asLong === (1L << 20))
  }

  test("a query that fails is recorded as failed, not timed") {
    val spark = TestSpark.spark
    val listener = Measure.attach(spark)
    try {
      val r = Bench.measure(spark, listener, "q00_fails", 2)(
        spark.range(3).select(raise_error(lit("boom"))))
      assert(r.error.exists(_.contains("boom")), r.error)
      assert(r.passes.isEmpty)
      val good = Bench.measure(spark, listener, "q00_ok", 2)(spark.range(3).toDF())
      assert(good.error.isEmpty && good.passes.size === 2)
      val json = new ObjectMapper().readTree(
        Bench.record(Seq(r, good), Nil, Nil, Nil, Nil, "d"))
      assert(json.get("failed").get(0).asText === "q00_fails")
      assert(json.get("queries").size === 1)
      assert(json.get("value").asDouble === math.round(good.best.wallS * 1000) / 1000.0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("outlier re-runs: contention signals over 1.5 s, at most 5") {
    def res(n: String, wall: Double, load: Double, runMs: Long, cpuMs: Long) =
      Bench.Result(n, Seq(reading(wall, runMs, cpuMs)), load, None)
    val quiet = res("q01", 9.0, 0.5, 1000, 900)
    val loaded = res("q02", 3.0, 9.0, 1000, 900)
    val offCpu = res("q03", 2.0, 0.5, 1000, 400)
    val short = res("q04", 1.0, 9.0, 1000, 100)
    val failed = Bench.Result("q05", Nil, 9.0, Some("x"))
    assert(Bench.rerunCandidates(Seq(quiet, loaded, offCpu, short, failed), 4) ===
      Seq("q02", "q03"))
    val many = (10 until 20).map(i => res(s"q$i", i.toDouble, 9.0, 1000, 900))
    assert(Bench.rerunCandidates(many, 4) === Seq("q19", "q18", "q17", "q16", "q15"))
  }

  test("query selector: full name or qNN prefix; unknown or empty fails") {
    val names = Seq("q10_b", "q02_a", "q03_c")
    assert(Measure.select(names, None) === Seq("q02_a", "q03_c", "q10_b"))
    assert(Measure.select(names, Some("q10_b, q02")) === Seq("q02_a", "q10_b"))
    // a prefix is the whole qNN: q1 is not q10
    for (bad <- Seq("q1", "q02_a,q999_nope", "", " , "))
      intercept[IllegalArgumentException](Measure.select(names, Some(bad)))
    assert(Measure.select(SparkEntry.queries.keys,
      Some("q03_join_star_revenue,q145")) ===
      Seq("q03_join_star_revenue", "q145_topk_aggregate"))
  }
}
