package graft.entities

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Institutions API entity build (reference: notebooks/institutions/
  * CreateInstitutionsApi.ipynb — the `institutions_api` CTAS of cell 4
  * plus the hash-snapshot / hash-compare MERGE of cells 2/5): per-
  * institution work aggregates from the exploded
  * `authorships[].institutions[]`, summary stats, top-25 topics +
  * topic_share (the shared grouping-sets template), super-system-
  * filtered lineage, roles from the `entity_link` OR-join, repository
  * and associated-institution rollups, ROR alternative names, newest-
  * first counts_by_year, and the content-hash-gated `updated_date`.
  *
  * Faithfully-preserved reference grain quirk: `main_agg_pre` runs over
  * the NON-deduplicated works_base (one row per authorship-institution
  * occurrence), so a work listing the same institution on two
  * authorships contributes its citations twice to `cited_by_count`,
  * twice to the i10/h-index citation buffer, and twice to the recent
  * mean — while `works_count` is COUNT(DISTINCT work_id) and
  * `counts_by_year` aggregates the DISTINCT (work, institution) pairs.
  * The q89 fixture pins this asymmetry with double-affiliation works.
  *
  * Deviations (documented): the recent mean uses the e6-exact floor
  * protocol of [[Metrics.rollup]] in place of the reference's
  * engine AVG (cross-engine FP determinism); `recentYearMin` pins the
  * reference's `YEAR(current_date()) - 2`; the roles dedup window
  * orders by `works_count DESC NULLS LAST, id` exactly as the
  * reference's implicit Spark null ordering.
  *
  * Scale posture: works_base is one narrow projection + two explodes of
  * the works table; every rollup is a single hash aggregation keyed by
  * institution_id with map-side partials; the registry-side joins
  * (ror, ancestors, labels, relationships, entity links) are all
  * registry-sized → broadcast; the only work-sized shuffles are the
  * keyed aggregations themselves. No windows over work-sized data
  * except the topic-total spread bounded by the topic vocabulary.
  */
object InstitutionsApi {

  private val OA = "https://openalex.org/"

  /** `wa`/`wai`/`works_base` CTEs: one row per (work, authorship,
    * institution) occurrence — institution id parsed from the OpenAlex
    * URL, pub year coalesced from the date. NOT deduplicated (see the
    * grain quirk above). */
  def worksBase(works: DataFrame): DataFrame =
    works
      .select(col("id"), col("publication_year"), col("publication_date"),
        col("cited_by_count"), col("open_access"), col("topics"),
        explode_outer(col("authorships")).as("__a"))
      .select(col("id"), col("publication_year"), col("publication_date"),
        col("cited_by_count"), col("open_access"), col("topics"),
        explode_outer(col("__a.institutions")).as("__inst"))
      .filter(col("__inst.id").isNotNull)
      .select(
        regexp_extract(col("__inst.id"), "/I([0-9]+)$", 1).cast("long")
          .as("institution_id"),
        col("id").as("work_id"),
        coalesce(col("publication_year"), year(col("publication_date")))
          .as("pub_year"),
        col("cited_by_count").cast("int").as("cited_by_count"),
        col("open_access.is_oa").cast("boolean").as("is_oa"),
        col("topics").as("work_topics"))

  /** `institution_roles` ([[EntityRoles.roles]]): the own institution
    * role (works_count from main_agg) plus linked publisher and funder
    * roles.
    * @param entityLinks (id_1, id_2) prefixed entity-link pairs
    * @param entityCounts (entity_id, works_count) — the P/F-prefixed
    *   works counts of the publishers_api / funders_api tables */
  def roles(institutions: DataFrame, entityLinks: DataFrame,
      ma: DataFrame, entityCounts: DataFrame): DataFrame =
    EntityRoles.roles(institutions, "institution_id", "I", "institution",
      ma, "P" -> "publisher", entityLinks, entityCounts)

  /** `repositories`: this institution's repository-typed sources, API-
    * shaped (S-URL id, I-URL host organization, single-element
    * lineage), sorted by id. */
  def repositories(sources: DataFrame, institutions: DataFrame): DataFrame = {
    val byId: (Column, Column) => Column = (l, r) =>
      when(l("id") < r("id"), -1).when(l("id") > r("id"), 1).otherwise(0)
    sources
      .filter(col("institution_id").isNotNull && col("type") === "repository" &&
        col("merge_into_id").isNull)
      .select(col("institution_id"), col("id"), col("display_name"))
      .join(broadcast(institutions.select(col("id").as("institution_id"),
        col("display_name").as("__iname"))), Seq("institution_id"))
      .groupBy(col("institution_id"))
      .agg(array_sort(collect_list(struct(
        concat(lit(OA + "S"), col("id").cast("string")).as("id"),
        col("display_name"),
        concat(lit(OA + "I"), col("institution_id").cast("string"))
          .as("host_organization"),
        col("__iname").as("host_organization_name"),
        array(concat(lit(OA + "I"), col("institution_id").cast("string")))
          .as("host_organization_lineage"))), byId).as("repositories"))
  }

  /** `associated_institutions`: ROR relationship edges resolved back to
    * institutions, related type from the prefer-non-funder `ror_types`
    * lookup, sorted by id.
    * @param rorRelationships (ror_id, related_ror_id, relationship_type)
    * @param rorTypes (ror_id, type) */
  def associatedInstitutions(institutions: DataFrame,
      rorRelationships: DataFrame, rorTypes: DataFrame): DataFrame = {
    val bareRor = regexp_replace(col("ror_id"), "https://ror\\.org/", "")
    val typeLookup = rorTypes.groupBy(col("ror_id"))
      .agg(lower(coalesce(
        max(when(lower(col("type")) =!= "funder", col("type"))),
        max(col("type")))).as("__rtype"))
    val active = institutions.filter(col("merge_into_id").isNull)
    val related = active.select(bareRor.as("__rror"),
      col("id").as("__rid"), col("display_name").as("__rname"),
      col("iso3166_code").as("__rcc"))
    val byId: (Column, Column) => Column = (l, r) =>
      when(l("id") < r("id"), -1).when(l("id") > r("id"), 1).otherwise(0)
    institutions.select(col("id").as("institution_id"), bareRor.as("__ror"))
      .join(broadcast(rorRelationships), col("__ror") === col("ror_id"))
      .join(broadcast(related), col("related_ror_id") === col("__rror"))
      .join(broadcast(typeLookup.select(col("ror_id").as("__tror"),
        col("__rtype"))), col("related_ror_id") === col("__tror"), "left")
      .groupBy(col("institution_id"))
      .agg(array_sort(collect_list(struct(
        concat(lit(OA + "I"), col("__rid").cast("string")).as("id"),
        concat(lit("https://ror.org/"), col("related_ror_id")).as("ror"),
        col("__rname").as("display_name"),
        col("__rcc").as("country_code"),
        col("__rtype").as("type"),
        lower(col("relationship_type")).as("relationship"))), byId)
        .as("associated_institutions"))
  }

  /** `ror_alternative_names`: labels ∪ aliases per ROR id. The
    * collect_set order is non-deterministic in both engines — callers
    * must (and the final projection does) sort after the merge. */
  def rorAlternativeNames(rorLabels: DataFrame,
      rorAliases: DataFrame): DataFrame =
    rorLabels.select(col("ror_id"), col("label").as("__alt"))
      .unionByName(rorAliases.select(col("ror_id"), col("alias").as("__alt")))
      .groupBy(col("ror_id"))
      .agg(collect_set(col("__alt")).as("alt_names"))

  /** The full institutions_api assembly (cell 4). Inputs:
    *  - `institutions`: master registry (id, ror_id, display_name,
    *    iso3166_code, type, official_page, image_url,
    *    image_thumbnail_url, display_name_acronyms,
    *    display_name_alternatives, city, geonames_city_id, region,
    *    country, latitude, longitude, grid_id, wiki_page, wikidata_id,
    *    created_date, merge_into_id);
    *  - `ror`: (id, status) — full ROR-URL keyed;
    *  - `ancestors`: (institution_id, lineage_ids ARRAY<BIGINT>);
    *  - `wb`: [[worksBase]] output;
    *  - `entityLinks` / `entityCounts`: see [[roles]];
    *  - `sources`, `rorRelationships`, `rorTypes`, `rorLabels`,
    *    `rorAliases`: see the per-rollup docs.
    * The CTAS leaves updated_date NULL —
    * [[graft.core.Incremental.stampUpdatedDate]] fills it from the
    * previous snapshot over [[contentKey]]. */
  def assemble(institutions: DataFrame, ror: DataFrame, ancestors: DataFrame,
      superSystemIds: Seq[Long], wb: DataFrame, entityLinks: DataFrame,
      entityCounts: DataFrame, sources: DataFrame, rorRelationships: DataFrame,
      rorTypes: DataFrame, rorLabels: DataFrame, rorAliases: DataFrame,
      recentYearMin: Int): DataFrame = {
    val superArr = array(superSystemIds.map(lit(_)): _*)
    val lineage = ancestors.select(col("institution_id").as("id"),
      filter(col("lineage_ids"), x => !array_contains(superArr, x))
        .as("lineage_ids"))
    // citations per occurrence, works counted distinct (the grain quirk
    // above); counts_by_year over the DISTINCT (work, institution) pairs
    // from 2010 on (the reference FILTERs `x.year >= 2010`)
    val ma = Metrics.rollup(wb, "institution_id",
      countDistinct(col("work_id")).cast("int"), recentYearMin)
    val pairs = wb.select(col("work_id"), col("institution_id"),
      col("pub_year"), col("cited_by_count"), col("is_oa")).distinct()
    val cby = Metrics.countsByYear(pairs.filter(col("pub_year") >= 2010),
      "institution_id", Metrics.intCounts(countDistinct(col("work_id"))): _*)
    val bareRor = regexp_replace(col("ror_id"), "https://ror\\.org/", "")
    def byId(df: DataFrame): DataFrame =
      df.withColumnRenamed("institution_id", "id")

    institutions.filter(col("merge_into_id").isNull)
      .join(broadcast(ror.select(col("id").as("ror_id"),
        col("status").as("__status"))), Seq("ror_id"), "left")
      .join(byId(ma), Seq("id"), "left")
      .join(byId(SourcesApi.topicsAndShare(wb, topK = 25,
        key = "institution_id")), Seq("id"), "left")
      .join(broadcast(lineage), Seq("id"), "left")
      .join(broadcast(rorAlternativeNames(rorLabels, rorAliases)
          .select(col("ror_id").as("__ra_ror"), col("alt_names"))),
        bareRor === col("__ra_ror"), "left").drop("__ra_ror")
      .join(byId(roles(institutions, entityLinks, ma, entityCounts)),
        Seq("id"), "left")
      .join(broadcast(byId(repositories(sources, institutions))), Seq("id"),
        "left")
      .join(broadcast(byId(associatedInstitutions(institutions,
        rorRelationships, rorTypes))), Seq("id"), "left")
      .join(byId(cby), Seq("id"), "left")
      .select(
        col("id"),
        col("ror_id").as("ror"),
        col("display_name"),
        col("iso3166_code").as("country_code"),
        col("type"),
        array_sort(transform(
          array_compact(concat(array(col("id")),
            coalesce(col("lineage_ids"), array().cast("array<bigint>")))),
          i => concat(lit(OA + "I"), i.cast("string")))).as("lineage"),
        array_contains(superArr, col("id")).as("is_super_system"),
        concat(lit(OA + "institution-types/"), col("type")).as("type_id"),
        col("official_page").as("homepage_url"),
        col("image_url"), col("image_thumbnail_url"),
        col("display_name_acronyms"),
        coalesce(
          array_sort(array_distinct(array_compact(concat(
            coalesce(col("display_name_alternatives"),
              array().cast("array<string>")),
            coalesce(col("alt_names"), array().cast("array<string>")))))),
          array().cast("array<string>")).as("display_name_alternatives"),
        coalesce(col("works_count"), lit(0)).as("works_count"),
        coalesce(col("cited_by_count").cast("int"), lit(0))
          .as("cited_by_count"),
        struct(
          concat(lit(OA + "I"), col("id").cast("string")).as("openalex"),
          col("ror_id").as("ror"), col("grid_id").as("grid"),
          col("wiki_page").as("wikipedia"), col("wikidata_id").as("wikidata"))
          .as("ids"),
        coalesce(col("roles"), array().cast(
          "array<struct<role:string,id:string,works_count:int>>")).as("roles"),
        coalesce(col("repositories"), array().cast(
          "array<struct<id:string,display_name:string," +
            "host_organization:string,host_organization_name:string," +
            "host_organization_lineage:array<string>>>")).as("repositories"),
        struct(col("city"), col("geonames_city_id"), col("region"),
          col("iso3166_code").as("country_code"), col("country"),
          col("latitude"), col("longitude")).as("geo"),
        coalesce(col("topics"), array().cast(
          "array<struct<id:string,display_name:string,count:int," +
            "subfield:string,field:string,domain:string>>")).as("topics"),
        coalesce(col("topic_share"), array().cast(
          "array<struct<id:string,display_name:string,value:double," +
            "subfield:string,field:string,domain:string>>")).as("topic_share"),
        coalesce(col("associated_institutions"), array().cast(
          "array<struct<id:string,ror:string,display_name:string," +
            "country_code:string,type:string,relationship:string>>"))
          .as("associated_institutions"),
        coalesce(col("counts_by_year"), array().cast(
          "array<struct<year:int,works_count:int,oa_works_count:int," +
            "cited_by_count:int>>")).as("counts_by_year"),
        Metrics.zeroedSummaryStruct.as("summary_stats"),
        coalesce(col("__status"), lit("active")).as("status"),
        concat(lit("https://api.openalex.org/works?filter=institutions.id:I"),
          col("id").cast("string")).as("works_api_url"),
        lit(null).cast("timestamp").as("updated_date"),
        date_trunc("SECOND", col("created_date").cast("timestamp"))
          .as("created_date"))
  }

  /** Cells-2/5 canonical content string (hash equality ⟺ string
    * equality, so the oracle can gate on the string while the engine
    * hashes it). topic_share is excluded — corpus-dependent, exactly as
    * the reference comments. */
  def contentKey: Column = {
    import graft.core.Incremental.{contentJson => j, contentStr => s}
    concat_ws("|",
      col("id").cast("string"),
      s(col("display_name"), ""), s(col("ror"), ""), s(col("type"), ""),
      s(col("country_code"), ""),
      s(col("geo").getField("latitude"), ""),
      s(col("geo").getField("longitude"), ""),
      s(col("geo").getField("city"), ""), s(col("geo").getField("region"), ""),
      s(col("geo").getField("country"), ""),
      s(col("homepage_url"), ""),
      s(col("ids").getField("wikipedia"), ""),
      s(col("ids").getField("wikidata"), ""),
      s(col("ids").getField("grid"), ""),
      j(col("display_name_acronyms"), "[]"),
      j(col("display_name_alternatives"), "[]"),
      s(col("works_count"), "0"), s(col("cited_by_count"), "0"),
      j(col("summary_stats"), "{}"),
      j(col("lineage"), "[]"),
      s(col("is_super_system"), "false"),
      j(col("roles"), "[]"), j(col("repositories"), "[]"),
      j(col("associated_institutions"), "[]"),
      j(col("topics"), "[]"), j(col("counts_by_year"), "[]"),
      s(col("status"), "active"))
  }
}
