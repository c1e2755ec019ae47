package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** The r15 WINDOW formulations of the elections that moved to bounded
  * aggregates in r16 — kept ONLY as measured baselines for the
  * shuffle-volume/skew benches (`BenchVolumes`, `BenchZipf`). Each
  * twin returns the same rows as its production aggregate form; the
  * difference is the plan: `Window.partitionBy(hotKey)` sends every
  * occurrence of a key to ONE task and sorts it there — the shape
  * that stalls on a Zipf-hot key and that AQE cannot split. Never
  * register these. */
object WindowTwins {

  /** Window twin of `Similarity.quantizedTopK` (per-query row_number
    * over all scored candidates — parallelism = |Q|, per-task data =
    * the corpus). */
  def quantizedTopK(codes: DataFrame, k: Int): DataFrame = {
    val c = codes.select(col("vec_id"), col("codes").as("__c"))
    val q = c.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("__c").as("__qc"))
    val scored = c.select(col("vec_id").as("c_id"), col("__c").as("__cc"))
      .join(broadcast(q), col("c_id") =!= col("q_id"))
      .withColumn("dist", aggregate(
        zip_with(col("__qc"), col("__cc"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dist").asc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id").as("neighbor"),
        col("dist"))
  }

  /** Window twin of `TextQuality.dupSpans`' election stage: stride-1
    * window-hash ownership via a per-hash window (the hot hash's
    * whole occurrence list sorts in one task). */
  def spanOwnership(docs: DataFrame): DataFrame = {
    val occ = docs.select(col("doc_id"),
        TextFunctions.windowHashes(col("text"), 10).as("hs"))
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "win_hash")))
    val w = Window.partitionBy(col("win_hash"))
      .orderBy(col("doc_id").asc, col("pos").asc)
    occ.withColumn("is_dup", row_number().over(w) > 1)
      .groupBy(col("doc_id"))
      .agg(sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_windows"))
  }

  /** Window twin of `TextQuality.paragraphDedup`: first-occurrence
    * ownership via a per-hash window. Same rows: (idCol, para_idx,
    * para_hash, is_duplicate). */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 10): DataFrame =
    paragraphDedupFromOccurrences(graft.operators.TextQuality
      .paragraphOccurrences(docs, idCol, textCol, chunkSize), idCol)

  /** The window election over a precomputed occurrence frame —
    * A/B-comparable with
    * `TextQuality.paragraphDedupFromOccurrences` on the SAME landed
    * frame, so the measured delta is purely the election. */
  def paragraphDedupFromOccurrences(paras: DataFrame,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(col("para_hash"))
      .orderBy(col(idCol).asc, col("para_idx").asc)
    paras.withColumn("is_duplicate", row_number().over(w) > 1)
      .select(col(idCol), col("para_idx"), col("para_hash"),
        col("is_duplicate"))
  }

  /** Window twin of `TextQuality.urlDedup`: per-canonical-URL winner
    * via a per-URL window (quality DESC NULLS LAST, id ASC). */
  def urlDedup(docs: DataFrame, idCol: String, urlCol: String,
      qualityCol: String): DataFrame = {
    val withKey = docs.withColumn("canonical_url",
      graft.operators.TextQuality.urlCanonicalize(col(urlCol)))
    val w = Window.partitionBy(col("canonical_url"))
      .orderBy(col(qualityCol).desc_nulls_last, col(idCol).asc)
    withKey.withColumn("is_url_duplicate", row_number().over(w) > 1)
  }

  /** Window twin of `Sampling.stratifiedCap`: per-stratum row_number
    * over the salted hash (the hot stratum sorts in one task). */
  def stratifiedCap(df: DataFrame, strata: Seq[String], idCol: String,
      seed: String, cap: Int): DataFrame = {
    val isIntegral = {
      import org.apache.spark.sql.types._
      df.schema(idCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    val idStr =
      if (isIntegral) lpad(col(idCol).cast("string"), 20, "0")
      else col(idCol).cast("string")
    val h = TextFunctions.charHash(
      concat(col(idCol).cast("string"), lit(":cap:" + seed)))
    val w = Window.partitionBy(strata.map(col): _*)
      .orderBy(h.asc, idStr.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap).drop("__rn")
  }
}
