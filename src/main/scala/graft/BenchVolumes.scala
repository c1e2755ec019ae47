package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shuffle-VOLUME audit (VERDICT r15 ask #7): ExplainAudit pins plan
  * SHAPES, but a payload column accidentally riding a wide exchange is
  * shape-invisible — it only shows as bytes. This main measures actual
  * `shuffle bytes/records written` per registered query (task metrics
  * from [[Measure]]) and prints ONE JSON line, committed as
  * `BENCH_volumes.json` so regressions diff.
  *
  * It also proves the r16 election rewrites AT THE METRICS LEVEL, not
  * just by plan shape: the bounded-aggregate formulations are run
  * side-by-side with their r15 window twins (rebuilt inline here) and
  * the audit FAILS unless the aggregate shuffles strictly fewer
  * records:
  *  - q145-style bounded top-k vs the q08 window top-k;
  *  - quantizedTopK (aggregate) vs the per-query window ANN scan;
  *  - dupSpans (two-phase min-agg) vs the per-hash window ownership.
  *
  * Volumes are compression-stable at a pinned SF, so the artifact is
  * comparable across rounds (unlike wall-clock, no host-drift noise).
  */
object BenchVolumes {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = Measure.selected()
    val spark = Session.local("graft-bench-volumes", Session.cpus)
    val listener = Measure.attach(spark)
    def measure(fn: => DataFrame): (Long, Long) = {
      spark.catalog.clearCache()
      val r = Measure.run(spark, listener)(fn)
      (r.shuffleWriteBytes, r.shuffleWriteRecords)
    }

    var ok = true
    def check(cond: Boolean, msg: String): Unit = {
      println(s"[volumes] ${if (cond) "OK " else "FAIL"} $msg")
      ok &= cond
    }

    val vols = queries.map { case (name, fn) => name -> measure(fn(spark, sfDir)) }
    val volMap = vols.toMap

    // the r16 election-rewrite evidence: aggregate vs window twins
    val codes = graft.operators.Similarity.scalarQuantize(
      graft.core.Tables(spark, sfDir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), col("codes"))
    val landed = graft.core.Materialize.temp(codes, "graft-vol-codes")._1
    val (aggB, aggR) = measure(graft.operators.Similarity
      .quantizedTopK(landed, "vec_id", "codes", col("vec_id") < 16, 5))
    val (winB, winR) = measure(WindowTwins.quantizedTopK(landed, 5))
    check(aggR < winR && aggR > 0,
      s"ANN top-k aggregate shuffles fewer records than the window " +
        s"twin ($aggR vs $winR; bytes $aggB vs $winB)")

    val docs = graft.core.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val (dsB, dsR) = measure(graft.operators.TextQuality
      .dupSpans(docs, "doc_id", "text"))
    val (dwB, dwR) = measure(WindowTwins.spanOwnership(docs))
    check(dsR < dwR && dsR > 0,
      s"dupSpans two-phase min-agg shuffles fewer records than the " +
        s"per-hash window twin ($dsR vs $dwR; bytes $dsB vs $dwB)")

    for {
      (b145, r145) <- volMap.get("q145_topk_aggregate")
      (b08, r08) <- volMap.get("q08_window_topk_orders")
    } check(r145 < r08,
      s"q145 bounded top-k shuffles fewer records than the q08 window " +
        s"($r145 vs $r08; bytes $b145 vs $b08)")

    val qs = vols.map { case (k, (b, r)) =>
      "\"" + k + "\":{\"bytes\":" + b + ",\"records\":" + r + "}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"shuffle_volumes","sf":"$sfDir","twins":{"ann_agg_records":$aggR,"ann_window_records":$winR,"dupspans_agg_records":$dsR,"dupspans_window_records":$dwR},"queries":$qs}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
