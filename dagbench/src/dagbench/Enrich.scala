package dagbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The works-enriched row the snapshot and entity builders read (the
  * CreateWorksEnriched contract that `SnapshotDocs.worksDoc`,
  * `SourcesApi.worksBase`, `PublishersApi.workPairs` and
  * `Guardrails.worksGuardrails` consume). The reference builds it in
  * SQL next to the layer modules; here it is benchmark glue, timed in
  * the `works` layer. Fields the generator does not model (concepts,
  * topics, SDGs, APCs) are fixed values.
  */
object Enrich {
  private val OA = "https://openalex.org/"
  private def nstr = lit(null).cast("string")

  /** Source and publisher ids derived from the source name, shared
    * with the registries the entity builders join. */
  def sourceId(name: Column): Column = pmod(xxhash64(name), lit(100000L))
  def publisherId(name: Column): Column = pmod(xxhash64(name), lit(20L))

  /** Everything a work gathers from the other layers. */
  final case class Extras(authorships: DataFrame, citations: DataFrame,
      references: DataFrame, funders: DataFrame)

  /** @param typed     one row per work: work_id, title, abstract,
    *                  work_type, published_date, authors, is_oa, license
    * @param locations one row per work: work_id, locations (ranked
    *                  array of native_id, provenance, landing_page_url,
    *                  license, source_name, is_oa) */
  def worksEnriched(typed: DataFrame, locations: DataFrame,
      x: Extras, updatedDate: String): DataFrame = {
    val locStruct = (l: Column) => struct(l.getField("native_id").as("native_id"),
      struct(concat(lit(OA + "S"), sourceId(l.getField("source_name")).cast("string"))
          .as("id"),
        l.getField("source_name").as("display_name"), lit(false).as("is_in_doaj"),
        concat(lit(OA + "P"), publisherId(l.getField("source_name")).cast("string"))
          .as("host_organization")).as("source"),
      coalesce(l.getField("is_oa"), lit(false)).as("is_oa"),
      lit("publishedVersion").as("version"),
      l.getField("landing_page_url").as("landing_page_url"), nstr.as("pdf_url"),
      l.getField("source_name").as("raw_source_name"), nstr.as("raw_type"),
      l.getField("provenance").as("provenance"), l.getField("license").as("license"),
      lit(null).cast("long").as("license_id"), lit(true).as("is_accepted"))
    val locs = locations.select(col("work_id").as("__lw"),
      transform(col("locations"), locStruct).as("locations"))
    val rawAuthorships = typed.select(col("work_id").as("__aw"),
      transform(coalesce(col("authors"), array()), (a, i) => struct(
        struct(a.getField("author_key").as("id")).as("author"),
        when(i === 0, "first").otherwise("middle").as("author_position"),
        array().cast("array<struct<name:string>>").as("affiliations"),
        array().cast("array<string>").as("countries"),
        a.getField("name").as("raw_author_name"),
        a.getField("orcid").as("raw_orcid"),
        coalesce(a.getField("is_corresponding"), lit(false)).as("is_corresponding"),
        coalesce(transform(a.getField("affiliations"), x => x.getField("name")),
          array().cast("array<string>")).as("raw_affiliation_strings"),
        array().cast("array<struct<id:string>>").as("institutions"))).as("__raw_auth"))
    val base = typed.join(locs, col("work_id") === col("__lw"), "left")
      .join(rawAuthorships, col("work_id") === col("__aw"), "left")
    val auth = x.authorships.select(col("work_id").as("__xw"),
      transform(col("authorships"), a => struct(
        struct(a.getField("author_id").cast("string").as("id")).as("author"),
        a.getField("author_position").as("author_position"),
        array().cast("array<struct<name:string>>").as("affiliations"),
        a.getField("countries").as("countries"),
        a.getField("raw_name").as("raw_author_name"),
        nstr.as("raw_orcid"),
        a.getField("is_corresponding").as("is_corresponding"),
        array().cast("array<string>").as("raw_affiliation_strings"),
        transform(a.getField("institutions"), t =>
          struct(concat(lit(OA + "I"), t.getField("id").cast("string")).as("id")))
          .as("institutions"))).as("__x_auth"))
    val joined = base.join(auth, col("work_id") === col("__xw"), "left")
      // matched ids and institutions from the authors layer; raw
      // strings from the survived record
      .withColumn("authorships", when(col("__x_auth").isNull, col("__raw_auth"))
        .otherwise(zip_with(col("__x_auth"), col("__raw_auth"), (m, r) =>
          m.withField("raw_affiliation_strings",
            coalesce(r.getField("raw_affiliation_strings"),
              array().cast("array<string>")))
            .withField("raw_orcid", r.getField("raw_orcid")))))
      .join(x.citations.select(col("work_id").as("__cw"),
        col("cited_by_count").as("__cites"), col("fwci").as("__fwci"),
        col("pctl").as("__pctl"), col("counts_by_year").as("counts_by_year_json")),
        col("work_id") === col("__cw"), "left")
      .join(x.references.select(col("citing_work_id"), col("referenced_works")),
        col("work_id") === col("citing_work_id"), "left")
      .join(x.funders, col("work_id") === col("__fwid"), "left")
    joined.select(col("work_id").as("id"), col("title"), col("abstract"),
      lit("2024-01-01").as("created_date"), lit(updatedDate).as("updated_date"),
      date_format(col("published_date"), "yyyy-MM-dd").as("publication_date"),
      array(struct(lit(11L).as("id"), lit("wd11").as("wikidata"),
        lit("Generated Concept").as("display_name"), lit(0).as("level"),
        lit(0.9).as("score"))).as("concepts"),
      map(lit("openalex"), concat(lit("W"), col("work_id"))).as("ids"),
      col("doi"), lit("en").as("language"), col("work_type").as("type"),
      coalesce(col("referenced_works"), array().cast("array<bigint>"))
        .cast("array<string>").as("referenced_works"),
      when(col("abstract").isNotNull,
        to_json(map(lit("abstract"), array(length(col("abstract"))))))
        .as("abstract_inverted_index"),
      struct(coalesce(col("is_oa"), lit(false)).as("is_oa"),
        graft.works.WorksBase.oaStatus(col("is_oa"), lit(false), lit(false),
          lit("journal"), col("license").isNotNull).as("oa_status"),
        lit(false).as("any_repository_has_fulltext"),
        nstr.as("oa_url")).as("open_access"),
      col("authorships"), col("locations"),
      try_element_at(col("locations"), lit(1)).as("primary_location"),
      try_element_at(col("locations"), lit(1)).as("best_oa_location"),
      nstr.as("fulltext"),
      coalesce(size(col("authorships")), lit(0)).as("authors_count"),
      array().cast("array<bigint>").as("corresponding_author_ids"),
      array().cast("array<bigint>").as("corresponding_institution_ids"),
      struct(lit(OA + "T10101").as("id"), lit("Generated Topic").as("display_name"),
        struct(lit(OA + "subfields/1010").as("id")).as("subfield"),
        struct(lit(OA + "fields/10").as("id")).as("field"),
        struct(lit(OA + "domains/1").as("id")).as("domain")).as("primary_topic"),
      array(struct(lit("T10101").as("id"), lit("Generated Topic").as("display_name"),
        lit("SF1010").as("subfield"), lit("F10").as("field"), lit("D1").as("domain"),
        lit(0.9).as("score"))).as("topics"),
      array().cast("array<string>").as("keywords"),
      coalesce(size(col("locations")), lit(0)).as("locations_count"),
      array().cast("array<struct<id:string,display_name:string,score:double>>")
        .as("sustainable_development_goals"),
      array().cast("array<string>").as("awards"),
      coalesce(col("__funders"), array().cast(
        "array<struct<id:string,display_name:string,ror:string>>")).as("funders"),
      array().cast("array<bigint>").as("institutions"),
      lit(1).as("countries_distinct_count"), lit(1).as("institutions_distinct_count"),
      lit(false).as("is_paratext"), lit(false).as("is_retracted"), lit(false).as("is_xpac"),
      struct(lit("1").as("volume")).as("biblio"),
      array().cast("array<string>").as("related_works"),
      coalesce(col("__cites"), lit(0L)).as("cited_by_count"),
      array(struct(lit(2024).as("year"), coalesce(col("__cites"), lit(0L))
        .as("cited_by_count"))).as("counts_by_year"),
      lit(null).cast("struct<value:bigint>").as("apc_list"),
      lit(null).cast("struct<value:bigint>").as("apc_paid"),
      coalesce(col("__fwci"), lit(0.0)).as("fwci"),
      struct(coalesce(col("__pctl"), lit(0.0)).as("value")).as("citation_normalized_percentile"),
      struct(lit(0).as("min"), lit(1).as("max")).as("cited_by_percentile_year"),
      array().cast("array<string>").as("mesh"),
      lit(false).as("has_content"),
      year(col("published_date")).as("publication_year"))
  }
}
