package graft.entities

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Publishers API entity build (reference: notebooks/publishers/
  * CreatePublishersAPI.ipynb — the `publishers_api` CTAS of cell 1 plus
  * the hash-snapshot / hash-compare MERGE of cells 0/2): per-publisher
  * work aggregates from the exploded `locations[].source
  * .host_organization` P-URLs at the DISTINCT (work, publisher) grain,
  * summary stats with the reference's NULL-h-index-when-no-works
  * asymmetry (the named_struct computes ARRAY_MAX over a NULL citation
  * array → NULL, while the mean and i10 are coalesced to 0), 2014-
  * bounded counts_by_year, entity-link roles, JSON-string registry
  * columns parsed with from_json, and the content-hash-gated
  * `updated_date`.
  *
  * Deviations (documented): the reference's roles COLLECT_LIST carries
  * no ordering (partition-order nondeterminism — unlike the
  * institutions build, which ARRAY_SORTs); we sort (role ASC, id ASC)
  * so the output is well-defined. The recent mean uses the e6-exact
  * floor protocol of [[Metrics.summaryStats]]; `recentYearMin` /
  * `yearMax` pin the reference's `YEAR(current_date())` horizons.
  *
  * Scale posture: one explode + distinct of the works table (a single
  * shuffle on the pair key), then single hash aggregations keyed by
  * publisher_id; the registry, entity-link, and counts inputs are
  * registry-sized broadcasts.
  */
object PublishersApi {

  private val OA = "https://openalex.org/"

  /** `works_publisher_ids` + `unique_work_publisher_pairs`: explode
    * locations, keep P-prefixed host organizations, DISTINCT
    * (work, publisher) pairs. */
  def workPairs(works: DataFrame): DataFrame =
    works
      .select(col("id"), col("publication_year"), col("cited_by_count"),
        explode(col("locations")).as("__l"))
      .filter(col("__l.source.host_organization").isNotNull &&
        col("__l.source.host_organization").startsWith(OA + "P"))
      .select(col("id").as("work_id"),
        regexp_extract(col("__l.source.host_organization"), "/P([0-9]+)$", 1)
          .cast("long").as("publisher_id"),
        col("publication_year"), col("cited_by_count"))
      .distinct()

  /** `publisher_total_counts` + `publisher_yearly_counts` +
    * `work_counts_by_publisher_id` fused: totals plus the year-bounded
    * newest-first counts_by_year (no oa column in this entity's
    * year structs — cell 1). */
  def workCounts(pairs: DataFrame, yearMin: Int = 2014,
      yearMax: Int): DataFrame = {
    val totals = pairs.groupBy(col("publisher_id"))
      .agg(count(col("work_id")).as("works_count"),
        sum(col("cited_by_count")).as("cited_by_count"))
    val yearly = pairs
      .filter(col("publication_year").isNotNull &&
        col("publication_year") >= yearMin &&
        col("publication_year") <= yearMax)
      .groupBy(col("publisher_id"), col("publication_year").as("year"))
      .agg(count(col("work_id")).as("works_count"),
        sum(col("cited_by_count")).as("cited_by_count"))
      .groupBy(col("publisher_id"))
      .agg(sort_array(collect_list(struct(col("year"), col("works_count"),
        col("cited_by_count"))), asc = false).as("counts_by_year"))
    totals.join(yearly, Seq("publisher_id"), "left")
  }

  /** `publisher_stats`: recent mean (e6-exact), i10, and the DESC
    * citation buffer the h-index folds over. */
  def stats(pairs: DataFrame, recentYearMin: Int): DataFrame = {
    val recent = when(col("publication_year") >= recentYearMin,
      col("cited_by_count"))
    val mean = sum(recent).cast("double") /
      nullif(count(recent).cast("double"), lit(0.0))
    pairs.groupBy(col("publisher_id"))
      .agg(
        count(when(col("cited_by_count") >= 10, 1)).cast("int")
          .as("i10_index"),
        (floor(mean * 1000000 + 0.5) / 1000000.0).as("two_year_mean"),
        sort_array(collect_list(col("cited_by_count").cast("int")),
          asc = false).as("sorted_citations"))
  }

  /** `publisher_roles` ([[EntityRoles.roles]]): the own publisher role
    * plus linked institution and funder roles. */
  def roles(publishers: DataFrame, entityLinks: DataFrame,
      workCounts: DataFrame, entityCounts: DataFrame): DataFrame =
    EntityRoles.roles(publishers, "publisher_id", "P", "publisher",
      workCounts, "I" -> "institution", entityLinks, entityCounts)

  /** The full publishers_api assembly (cell 1). Inputs:
    *  - `publishers`: registry (id, display_name, alternate_titles /
    *    country_codes as JSON STRINGS, hierarchy_level,
    *    parent_publisher STRUCT, ror_id, image_url,
    *    image_thumbnail_url, wikidata_id, homepage_url, created_date,
    *    merge_into_id);
    *  - `pairs`: [[workPairs]] output;
    *  - `entityLinks` / `entityCounts`: see [[roles]].
    * The CTAS leaves updated_date NULL —
    * [[graft.core.Incremental.stampUpdatedDate]] over [[contentKey]]
    * fills it. */
  def assemble(publishers: DataFrame, pairs: DataFrame,
      entityLinks: DataFrame, entityCounts: DataFrame, recentYearMin: Int,
      yearMin: Int = 2014, yearMax: Int): DataFrame = {
    val wc = workCounts(pairs, yearMin, yearMax)
    publishers.filter(col("merge_into_id").isNull)
      .join(wc.withColumnRenamed("publisher_id", "__wc_id")
          .withColumnRenamed("works_count", "__wc")
          .withColumnRenamed("cited_by_count", "__cc"),
        col("id") === col("__wc_id"), "left").drop("__wc_id")
      .join(stats(pairs, recentYearMin)
          .withColumnRenamed("publisher_id", "__ps_id"),
        col("id") === col("__ps_id"), "left").drop("__ps_id")
      .join(roles(publishers, entityLinks, wc, entityCounts)
          .withColumnRenamed("publisher_id", "__pr_id")
          .withColumnRenamed("roles", "__roles"),
        col("id") === col("__pr_id"), "left").drop("__pr_id")
      .select(
        col("id"),
        array(concat(lit(OA + "P"), col("id").cast("string"))).as("lineage"),
        col("display_name"),
        from_json(col("alternate_titles"), lit("array<string>"))
          .as("alternate_titles"),
        from_json(col("country_codes"), lit("array<string>"))
          .as("country_codes"),
        col("hierarchy_level"),
        col("parent_publisher"),
        struct(
          concat(lit(OA + "P"), col("id").cast("string")).as("openalex"),
          col("ror_id").as("ror"), col("wikidata_id").as("wikidata"))
          .as("ids"),
        col("ror_id"), col("image_url"), col("image_thumbnail_url"),
        col("wikidata_id"), col("homepage_url"),
        coalesce(col("__wc"), lit(0L)).as("works_count"),
        coalesce(col("__cc"), lit(0L)).as("cited_by_count"),
        struct(
          coalesce(col("two_year_mean"), lit(0.0)).as("2yr_mean_citedness"),
          Metrics.hIndex(col("sorted_citations")).cast("int").as("h_index"),
          coalesce(col("i10_index"), lit(0)).as("i10_index"))
          .as("summary_stats"),
        coalesce(col("__roles"), array().cast(
          "array<struct<role:string,id:string,works_count:int>>")).as("roles"),
        coalesce(col("counts_by_year"), array().cast(
          "array<struct<year:int,works_count:bigint,cited_by_count:bigint>>"))
          .as("counts_by_year"),
        concat(lit("https://api.openalex.org/sources?filter=" +
          "host_organization.id:P"), col("id").cast("string"))
          .as("sources_api_url"),
        date_trunc("SECOND", col("created_date").cast("timestamp"))
          .as("created_date"),
        lit(null).cast("timestamp").as("updated_date"))
  }

  /** Cells-0/2 canonical content string (hash equality ⟺ string
    * equality — see [[InstitutionsApi.contentKey]]). */
  def contentKey: Column = {
    import graft.core.Incremental.{contentJson => j, contentStr => s}
    concat_ws("|",
      col("id").cast("string"),
      s(col("display_name"), ""),
      j(col("alternate_titles"), "[]"),
      j(col("country_codes"), "[]"),
      s(col("hierarchy_level"), ""),
      j(col("parent_publisher"), "{}"),
      s(col("ror_id"), ""), s(col("image_url"), ""),
      s(col("image_thumbnail_url"), ""),
      s(col("wikidata_id"), ""), s(col("homepage_url"), ""),
      s(col("works_count"), "0"), s(col("cited_by_count"), "0"),
      j(col("summary_stats"), "{}"),
      j(col("roles"), "[]"), j(col("counts_by_year"), "[]"))
  }
}
