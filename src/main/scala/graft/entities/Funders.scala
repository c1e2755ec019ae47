package graft.entities

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Funders API entity build (reference: notebooks/funders/
  * CreateFundersAPI.ipynb): work→funder edges exploded from the works
  * `funders[]` array, per-funder metrics (works/citations/OA + the
  * summary-stats helpers shared via [[Metrics]]), unique-award counts,
  * the roles assembly over entity links (funder's own role + linked
  * institution/publisher entities with their API works_counts, one row
  * per role kept by works_count DESC then id), year-bucketed
  * counts_by_year sorted newest-first, and the final API-shape select
  * over non-merged registry rows.
  *
  * Scale posture: edges are one explode + one equijoin back to works;
  * every per-funder aggregate is a single hash aggregation; entity
  * links and the institution/publisher count dims are registry-sized
  * and broadcast. The reference's `OR`-keyed entity-link join is
  * rewritten as a union of two equijoins (same semantics — a link
  * carries at most one F on each side) so no nested-loop join appears.
  *
  * Determinism deviation (documented): the reference collects the
  * per-funder roles array in unspecified order; here it is sorted by
  * role name (one entry per role after the dedup).
  */
object Funders {

  private val OpenAlexFunderPrefix = "https://openalex.org/F"

  /** (funder_id, work_id) edges from the works funders array
    * (`wf_base` CTE). */
  def workFunders(works: DataFrame): DataFrame =
    works.filter(col("id").isNotNull)
      .select(col("id").cast("long").as("work_id"), explode(col("funders")).as("__f"))
      .filter(col("__f.id").isNotNull &&
        col("__f.id").startsWith(OpenAlexFunderPrefix))
      .select(replace(col("__f.id"), lit(OpenAlexFunderPrefix), lit(""))
        .cast("long").as("funder_id"), col("work_id"))

  /** Edges + per-work signals needed by the metrics (`wf_enriched`). */
  def enrichWorkFunders(wf: DataFrame, works: DataFrame): DataFrame =
    wf.join(works.select(col("id").cast("long").as("work_id"),
      coalesce(col("publication_year"), year(col("publication_date")))
        .as("pub_year"),
      col("cited_by_count").cast("int").as("cited_by_count"),
      col("open_access.is_oa").cast("boolean").as("is_oa")), Seq("work_id"))

  /** Roles assembly (`funder_roles` CTE): the funder's own role plus
    * linked institutions/publishers from the entity-link table, each
    * with its API works_count; one row per (funder, role) by
    * works_count DESC then id ASC.
    * @param entityLinks (id_1, id_2) prefixed entity keys (F/I/P…)
    * @param funderCounts (funder_id, works_count)
    * @param institutionCounts / publisherCounts (entity_id, works_count)
    *        with prefixed entity ids (I…/P…) */
  def roles(funderIds: DataFrame, entityLinks: DataFrame,
      funderCounts: DataFrame, institutionCounts: DataFrame,
      publisherCounts: DataFrame): DataFrame = {
    val fkey = concat(lit("F"), col("funder_id").cast("string"))
    val linkSides = entityLinks
      .filter(col("id_1").startsWith("F"))
      .select(col("id_1").as("__fk"), col("id_2").as("entity_id"))
      .unionByName(entityLinks.filter(col("id_2").startsWith("F"))
        .select(col("id_2").as("__fk"), col("id_1").as("entity_id")))
    val expanded = funderIds.join(broadcast(linkSides), fkey === col("__fk"))
      .filter(col("entity_id").startsWith("I") || col("entity_id").startsWith("P"))
      .select(col("funder_id"), col("entity_id"),
        when(col("entity_id").startsWith("I"), "institution")
          .otherwise("publisher").as("role"))
    val all = funderIds
      .select(col("funder_id"), fkey.as("entity_id"), lit("funder").as("role"))
      .unionByName(expanded)
    val withCounts = all
      .join(broadcast(funderCounts.select(col("funder_id").as("__cf"),
        col("works_count").as("__fwc"))),
        col("role") === "funder" && col("funder_id") === col("__cf"), "left")
      .join(broadcast(institutionCounts.select(col("entity_id").as("__ci"),
        col("works_count").as("__iwc"))),
        col("role") === "institution" && col("entity_id") === col("__ci"), "left")
      .join(broadcast(publisherCounts.select(col("entity_id").as("__cp"),
        col("works_count").as("__pwc"))),
        col("role") === "publisher" && col("entity_id") === col("__cp"), "left")
      .select(col("funder_id"), col("role"),
        concat(lit("https://openalex.org/"), col("entity_id")).as("id"),
        coalesce(col("__fwc"), col("__iwc"), col("__pwc"), lit(0))
          .cast("int").as("works_count"))
    withCounts
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("funder_id"), col("role"))
          .orderBy(col("works_count").desc, col("id").asc)))
      .filter(col("__rn") === 1)
      .groupBy(col("funder_id"))
      .agg(array_sort(collect_list(struct(col("role"), col("id"),
        col("works_count")))).as("roles"))
  }

  private val emptyRoles =
    array().cast("array<struct<role:string,id:string,works_count:int>>")

  /** The full funders_api assembly over non-merged registry rows.
    * `funders` carries funder_id, display_name, alternate_titles (JSON
    * string), country_code, description, homepage_url, image_url,
    * image_thumbnail_url, ror_id, wikidata_id, crossref_id, doi,
    * merge_into_id. `recentYearMin` pins the reference's
    * `current_year - 2` horizon for determinism. */
  def assemble(funders: DataFrame, wfEnriched: DataFrame, awards: DataFrame,
      entityLinks: DataFrame, institutionCounts: DataFrame,
      publisherCounts: DataFrame, recentYearMin: Int): DataFrame = {
    // a funder listed twice on one work counts the work once
    val metrics = Metrics.rollup(wfEnriched, "funder_id",
      countDistinct(col("work_id")).cast("int"), recentYearMin)
    val countsByYear = Metrics.countsByYear(wfEnriched, "funder_id",
      Metrics.intCounts(countDistinct(col("work_id"))): _*)
    val awardCounts = awards.filter(col("funder_id").isNotNull)
      .groupBy(col("funder_id"))
      .agg(count(lit(1)).cast("int").as("awards_count"))
    val rolesDf = roles(funders.select(col("funder_id")), entityLinks,
      metrics.select(col("funder_id"), col("works_count")),
      institutionCounts, publisherCounts)
    funders.filter(col("merge_into_id").isNull)
      .join(metrics, Seq("funder_id"), "left")
      .join(awardCounts, Seq("funder_id"), "left")
      .join(rolesDf, Seq("funder_id"), "left")
      .join(countsByYear, Seq("funder_id"), "left")
      .select(
        col("funder_id").as("id"),
        col("display_name"),
        from_json(col("alternate_titles"),
          org.apache.spark.sql.types.DataType.fromDDL("array<string>"))
          .as("alternate_titles"),
        col("country_code"), col("description"), col("homepage_url"),
        col("image_url"), col("image_thumbnail_url"),
        struct(
          concat(lit(OpenAlexFunderPrefix), col("funder_id").cast("string"))
            .as("openalex"),
          col("ror_id").as("ror"), col("wikidata_id").as("wikidata"),
          col("crossref_id").as("crossref"), col("doi").as("doi")).as("ids"),
        coalesce(col("works_count"), lit(0)).as("works_count"),
        coalesce(col("cited_by_count").cast("int"), lit(0))
          .as("cited_by_count"),
        coalesce(col("awards_count"), lit(0)).as("awards_count"),
        coalesce(col("roles"), emptyRoles).as("roles"),
        col("counts_by_year"),
        Metrics.summaryStruct.as("summary_stats"))
  }
}
