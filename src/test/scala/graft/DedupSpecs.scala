package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** The aggregate and fixed-round formulations of the dedup tail
  * (graft.operators.Dedup) — executable specs only. Production code
  * takes MinHash slots from the per-doc set, stops connected
  * components at their fixpoint and counts shingle overlaps without a
  * three-key distinct; RandomizedParitySpec pins each rewrite against
  * its spec on values, data types and nullability. */
object DedupSpecs {

  /** One aggregation: `numHashes` permutation minima beside the
    * sorted set. Output: (idCol, s0..sN-1, set, n). */
  def signatureWithSets(ids: DataFrame, idCol: String,
      numHashes: Int): DataFrame = {
    val p = Dedup.Prime
    val aggs = (0 until numHashes).map { i =>
      min(((col("sid") % p) * lit(Dedup.hashA(i)) + lit(Dedup.hashB(i))) % p)
        .as(s"s$i")
    } :+ sort_array(collect_set(col("sid"))).as("set")
    ids.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .withColumn("n", size(col("set")))
  }

  /** Min-label propagation with pointer jumping for exactly `maxIter`
    * rounds, landing every second round and the last. */
  def connectedComponents(pairs: DataFrame, idA: String = "da",
      idB: String = "db", maxIter: Int = 8): DataFrame = {
    val edges = graft.core.Materialize.temp(
      pairs.select(col(idA).as("src"), col(idB).as("dst"))
        .union(pairs.select(col(idB).as("src"), col(idA).as("dst"))),
      "graft-cc-edges")._1
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    for (i <- 1 to maxIter) {
      val nbr = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("label"))
      val l1 = nbr.unionByName(labels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
      val jumped = l1.as("x")
        .join(l1.select(col("id").as("label"), col("label").as("__ll")),
          Seq("label"), "left")
        .select(col("id"), coalesce(col("__ll"), col("label")).as("label"))
      labels = if (i % 2 == 0 || i == maxIter)
        graft.core.Materialize.temp(jumped, "graft-cc")._1 else jumped
    }
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Distinct shared shingles per (doc, bench) as one count-distinct
    * over the broadcast join. */
  def contaminationPairs(docShingles: DataFrame, benchShingles: DataFrame,
      idCol: String, minCommon: Int): DataFrame = {
    val bench = benchShingles
      .select(col(idCol).as("bench_id"), col("shingle")).distinct()
    docShingles
      .join(broadcast(bench), Seq("shingle"))
      .groupBy(col(idCol), col("bench_id"))
      .agg(countDistinct(col("shingle")).as("n_common"))
      .filter(col("n_common") >= minCommon)
  }
}
