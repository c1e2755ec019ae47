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
  * floor protocol of [[Metrics.rollup]]; `recentYearMin` /
  * `yearMax` pin the reference's `YEAR(current_date())` horizons.
  *
  * Scale posture: one explode + distinct of the works table (a single
  * shuffle on the pair key), then one [[Metrics.rollup]] (stats and
  * totals in one hash aggregation) and one counts_by_year pass keyed
  * by publisher_id; the registry, entity-link, and counts inputs are
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

  /** `publisher_roles` ([[EntityRoles.roles]]): the own publisher role
    * plus linked institution and funder roles. */
  def roles(publishers: DataFrame, entityLinks: DataFrame,
      ma: DataFrame, entityCounts: DataFrame): DataFrame =
    EntityRoles.roles(publishers, "publisher_id", "P", "publisher",
      ma, "I" -> "institution", entityLinks, entityCounts)

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
    // `publisher_stats` and `publisher_total_counts` are one rollup;
    // this entity's works carry no OA flag
    val rows = pairs.select(col("publisher_id"), col("work_id"),
      col("publication_year").as("pub_year"), col("cited_by_count"),
      lit(null).cast("boolean").as("is_oa"))
    val ma = Metrics.rollup(rows, "publisher_id", count(col("work_id")),
      recentYearMin)
    val cby = Metrics.countsByYear(
      rows.filter(col("pub_year").between(yearMin, yearMax)), "publisher_id",
      count(col("work_id")).as("works_count"),
      sum(col("cited_by_count")).as("cited_by_count"))
    def byId(df: DataFrame): DataFrame = df.withColumnRenamed("publisher_id", "id")
    publishers.filter(col("merge_into_id").isNull)
      .join(byId(ma), Seq("id"), "left")
      .join(byId(cby), Seq("id"), "left")
      .join(byId(roles(publishers, entityLinks, ma, entityCounts)), Seq("id"),
        "left")
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
        coalesce(col("works_count"), lit(0L)).as("works_count"),
        coalesce(col("cited_by_count"), lit(0L)).as("cited_by_count"),
        Metrics.summaryStruct.as("summary_stats"),
        coalesce(col("roles"), array().cast(
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
