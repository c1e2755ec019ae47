package graft.entities

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-entity work rollup every satellite API build shares
  * (reference: the `main_agg` / `publisher_stats` / `funder_metrics`
  * CTEs of CreateSourcesApi, CreateInstitutionsApi, CreatePublishersAPI
  * and CreateFundersAPI): works/citations/OA counts, i10-index, the
  * recent mean citedness and the h-index from the DESC-sorted citation
  * array in ONE grouped aggregation per entity (the citation array is
  * bounded by the entity's works count — the reference collects the
  * same list), and the newest-first `counts_by_year`.
  *
  * Input rows carry (key, work_id, cited_by_count, is_oa, pub_year) at
  * the build's own grain; each build keeps its grain, its output casts
  * and its policy for an entity with no works.
  */
object Metrics {

  /** h-index from a DESC-sorted citation array: the largest h with
    * `sorted(h) ≥ h` (1-based) — computed as one zip_with fold, no
    * explode. */
  private def hIndex(sortedDesc: Column): Column =
    when(size(sortedDesc) === 0, 0).otherwise(
      aggregate(
        zip_with(sortedDesc, sequence(lit(1), size(sortedDesc)),
          (c, i) => when(c >= i, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x))

  /** Rows whose work is open access, as an int count. */
  private def oaWorksCount: Column =
    sum(when(col("is_oa"), 1).otherwise(0)).cast("int").as("oa_works_count")

  /** The int-typed (works_count, oa_works_count, cited_by_count)
    * measures of the sources, institutions, funders and authors
    * builds; `works` counts the works at the caller's grain. */
  def intCounts(works: Column, cited: Column = col("cited_by_count")): Seq[Column] =
    Seq(works.cast("int").as("works_count"), oaWorksCount,
      sum(cited).cast("int").as("cited_by_count"))

  /** Per-entity rollup: works_count (`worksCount` — `count(lit(1))`
    * where a row is a work, `countDistinct(work_id)` where a work can
    * repeat, cast as the build's output wants), cited_by_count,
    * oa_works_count, i10_index, the e6-exact recent_mean_citedness over
    * works from `recentYearMin` on (a fixed horizon in place of the
    * reference's `current_year - 2`, so the metric is deterministic for
    * the oracle; the floor protocol keeps it bit-exact across engines)
    * and h_index. cited_by_count keeps its sum type (bigint); a build
    * with int output casts it. `extra` aggregates ride the same pass. */
  def rollup(rows: DataFrame, key: String, worksCount: Column,
      recentYearMin: Int, extra: Column*): DataFrame = {
    val recent = when(col("pub_year") >= recentYearMin, col("cited_by_count"))
    val mean = sum(recent).cast("double") /
      nullif(count(recent).cast("double"), lit(0.0))
    rows.groupBy(col(key)).agg(
        worksCount.as("works_count"),
        (Seq(sum(col("cited_by_count")).as("cited_by_count"), oaWorksCount,
          count(when(col("cited_by_count") >= 10, 1)).cast("int").as("i10_index"),
          (floor(mean * 1000000 + 0.5) / 1000000.0).as("recent_mean_citedness"),
          sort_array(collect_list(col("cited_by_count")), asc = false)
            .as("__sorted")) ++ extra): _*)
      .withColumn("h_index", hIndex(col("__sorted")))
      .drop("__sorted")
  }

  /** The API `summary_stats` struct over a left-joined [[rollup]]. An
    * entity with no works reads a 0.0 mean, a 0 i10 and a NULL h_index
    * (the reference's uncoalesced ARRAY_MAX — publishers, funders). */
  def summaryStruct: Column = struct(
    coalesce(col("recent_mean_citedness"), lit(0.0)).as("2yr_mean_citedness"),
    col("h_index"), coalesce(col("i10_index"), lit(0)).as("i10_index"))

  /** `summary_stats` where an entity with no works reads all zeros
    * (sources, institutions). */
  def zeroedSummaryStruct: Column =
    when(col("works_count").isNotNull, struct(
        coalesce(col("recent_mean_citedness"), lit(0.0))
          .as("2yr_mean_citedness"),
        col("h_index"), col("i10_index")))
      .otherwise(struct(lit(0.0).as("2yr_mean_citedness"),
        lit(0).cast("int").as("h_index"), lit(0).cast("int").as("i10_index")))

  /** Per-(entity, year) `measures` over the rows that have a
    * publication year: one flat row per (key, year). */
  def yearly(rows: DataFrame, key: String, measures: Column*): DataFrame =
    rows.filter(col("pub_year").isNotNull)
      .groupBy(col(key), col("pub_year").cast("int").as("year"))
      .agg(measures.head, measures.tail: _*)

  /** `counts_by_year`: each entity's [[yearly]] rows collected into one
    * newest-first array of (year, measures…) structs. */
  def countsByYear(rows: DataFrame, key: String, measures: Column*): DataFrame = {
    val flat = yearly(rows, key, measures: _*)
    flat.groupBy(col(key))
      .agg(sort_array(collect_list(struct(col("year") +:
        flat.columns.drop(2).toSeq.map(col): _*)), asc = false)
        .as("counts_by_year"))
  }
}
