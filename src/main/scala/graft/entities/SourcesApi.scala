package graft.entities

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sources API entity build (reference: notebooks/sources/
  * CreateSourcesApi.ipynb — the `sources_api` CTAS plus the
  * hash-snapshot / hash-compare MERGE around it): per-source work
  * aggregates from `primary_location.source.id`, summary stats (h-index
  * zip_with fold, i10, recent mean citedness), top-25 topics and
  * topic_share from one GROUPING SETS pass, newest-first
  * counts_by_year, host-organization routing (repository → I-prefixed
  * institution, else P-prefixed publisher; metadata joins repositories
  * for the lineage), the APC map → year-sorted array, and the
  * content-hash-gated `updated_date` (cells 1/4: xxhash64 over the
  * 32-field canonical concat, date bumped only when the hash changed).
  *
  * Scale posture: works_base is one narrow projection of the works
  * table; the main aggregate is a single hash aggregation keyed by
  * source_id (the h-index citation buffer is bounded by the source's
  * works count, exactly what the reference collects); topics re-use the
  * Authors grouping-sets idiom — per-source counts AND corpus totals in
  * one pass, totals spread by a topic_id-partitioned window bounded by
  * the topic vocabulary; every registry-side join key is the source id.
  *
  * Determinism note: `max_by(display_name, score)` mirrors the
  * reference's MAX_BY — deterministic as long as topic metadata is
  * functionally dependent on topic_id (true of the topics dim).
  */
object SourcesApi {

  private val OA = "https://openalex.org/"

  /** One row per work with a primary-location source: the `works_base`
    * CTE — source id parsed from the OpenAlex URL, pub year coalesced
    * from the date. */
  def worksBase(works: DataFrame): DataFrame =
    works.filter(col("primary_location.source.id").isNotNull)
      .select(
        regexp_extract(col("primary_location.source.id"), "/S([0-9]+)$", 1)
          .cast("long").as("source_id"),
        col("id").as("work_id"),
        coalesce(col("publication_year"), year(col("publication_date")))
          .as("pub_year"),
        col("cited_by_count").cast("int").as("cited_by_count"),
        col("open_access.is_oa").cast("boolean").as("is_oa"),
        col("created_date"),
        col("topics").as("work_topics"))

  /** `topics_and_share`: distinct (entity, work, topic) rows → one
    * GROUPING SETS aggregation for per-entity counts and corpus totals,
    * top-25 `topics` (count DESC, id ASC) and `topic_share`
    * (value DESC, id ASC; value = ROUND(count/total, 7)). The same
    * template serves sources (`source_id`, the default) and
    * institutions (`institution_id` — CreateInstitutionsApi.ipynb's
    * identical `topics_and_share` CTE); `key` names the grouping
    * column, in and out. */
  def topicsAndShare(worksBase: DataFrame, topK: Int = 25,
      key: String = "source_id"): DataFrame = {
    val awt = worksBase.filter(col("work_id").isNotNull)
      .select(col(key).as("source_id"), col("work_id"),
        explode_outer(col("work_topics")).as("__t"))
      .filter(col("__t.id").isNotNull)
      .select(col("source_id"), col("work_id"),
        col("__t.id").cast("string").as("topic_id"),
        col("__t.display_name").as("display_name"),
        col("__t.subfield").as("subfield"), col("__t.field").as("field"),
        col("__t.domain").as("domain"), col("__t.score").as("score"))
      .distinct()
    val counts = awt
      .groupingSets(
        Seq(Seq(col("source_id"), col("topic_id")), Seq(col("topic_id"))),
        col("source_id"), col("topic_id"))
      .agg(
        max_by(col("display_name"), col("score")).as("display_name"),
        max_by(col("subfield"), col("score")).as("subfield"),
        max_by(col("field"), col("score")).as("field"),
        max_by(col("domain"), col("score")).as("domain"),
        countDistinct(col("work_id")).as("cnt"))
    val withTotals = counts.withColumn("topic_total",
      max(when(col("source_id").isNull, col("cnt")))
        .over(Window.partitionBy(col("topic_id"))))
    val share = col("cnt").cast("double") /
      nullif(col("topic_total").cast("double"), lit(0.0))
    // bounded top-k election (TopK.topKRows) instead of
    // collect-everything + sort + slice: the aggregate buffer holds at
    // most k rows per (entity × partition) — bounded by k, not by the
    // topic vocabulary — and the output arrives already in election
    // order. `topics` elects on (count DESC, id ASC); `topic_share` on
    // (value DESC, id ASC) via the EXACT e7-scaled share (value =
    // e7/1e7 is strictly monotone and injective in e7, so the long
    // election order IS the double order). The per-topic payload rides
    // through the aggregate as JSON — doubles round-trip exactly
    // (Double.toString/parseDouble), ids are strings already.
    val rows = withTotals.filter(col("source_id").isNotNull)
      .withColumn("value", Authors.r7(share))
      .withColumn("__value_e7", floor(share * 10000000L + 0.5).cast("long"))
    val payload = to_json(struct(col("display_name"), col("subfield"),
      col("field"), col("domain"), col("value")))
    val pSchema = "display_name STRING, subfield STRING, field STRING, " +
      "domain STRING, value DOUBLE"
    def p(e: Column): Column =
      from_json(e.getField("payload"), pSchema, Map.empty[String, String])
    rows.groupBy(col("source_id"))
      .agg(
        graft.operators.TopK.topKRows(topK)(col("cnt"), col("topic_id"),
          payload).as("__tc"),
        graft.operators.TopK.topKRows(topK)(col("__value_e7"),
          col("topic_id"), payload).as("__tv"))
      .select(col("source_id").as(key),
        transform(col("__tc"), e => struct(e.getField("id").as("id"),
          p(e).getField("display_name").as("display_name"),
          e.getField("score").cast("int").as("count"),
          p(e).getField("subfield").as("subfield"),
          p(e).getField("field").as("field"),
          p(e).getField("domain").as("domain"))).as("topics"),
        transform(col("__tv"), e => struct(e.getField("id").as("id"),
          p(e).getField("display_name").as("display_name"),
          p(e).getField("value").as("value"),
          p(e).getField("subfield").as("subfield"),
          p(e).getField("field").as("field"),
          p(e).getField("domain").as("domain"))).as("topic_share"))
  }

  /** The full sources_api assembly (cell 3). Inputs:
    *  - `sources`: legacy-shape registry (id, display_name, issn_l,
    *    issns, publisher_id, institution_id, type, wikidata_id, the
    *    DOAJ/OA-rate flags + start years, is_in_scielo/is_ojs/is_core/
    *    is_preprint_repository, is_oa, webpage, apc_prices, apc_usd,
    *    apc_usd_by_year MAP, country_code, societies, alternate_titles,
    *    merge_into_id);
    *  - `metricsPre`: (id, first_publication_year, last_publication_year)
    *    — source_metrics_precomputed;
    *  - `institutions` / `publishers`: (id, display_name[,
    *    parent_publisher STRUCT<id>]) dims;
    *  - `wb`: [[worksBase]] output.
    * The CTAS leaves updated_date NULL —
    * [[graft.core.Incremental.stampUpdatedDate]] fills it from the
    * previous hash snapshot over [[contentKey]]. */
  def assemble(sources: DataFrame, metricsPre: DataFrame,
      institutions: DataFrame, publishers: DataFrame, wb: DataFrame,
      recentYearMin: Int): DataFrame = {
    val src = sources.filter(col("merge_into_id").isNull)
      .join(metricsPre.select(col("id"),
        col("first_publication_year"), col("last_publication_year")),
        Seq("id"), "left")
      .join(broadcast(institutions.select(col("id").as("institution_id"),
        col("display_name").as("institution_name"))),
        Seq("institution_id"), "left")
      .join(broadcast(publishers.select(col("id").as("publisher_id"),
        col("display_name").as("publisher_name"), col("parent_publisher"))),
        Seq("publisher_id"), "left")
    val isRepo = col("type") === "repository"
    val isRepoOrMeta = isRepo || col("type") === "metadata"
    val instUrl = concat(lit(OA + "I"), col("institution_id").cast("string"))
    val pubUrl = concat(lit(OA + "P"), col("publisher_id").cast("string"))
    def byId(df: DataFrame): DataFrame = df.withColumnRenamed("source_id", "id")
    src
      .join(byId(Metrics.rollup(wb, "source_id", count(lit(1)).cast("int"),
        recentYearMin,
        date_trunc("SECOND", min(col("created_date")).cast("timestamp"))
          .as("created_date"))), Seq("id"), "left")
      .join(byId(topicsAndShare(wb)), Seq("id"), "left")
      .join(byId(Metrics.countsByYear(wb, "source_id",
        Metrics.intCounts(count(lit(1))): _*)), Seq("id"), "left")
      .select(
        col("id"), col("issn_l"), col("issns").as("issn"), col("display_name"),
        when(isRepo, instUrl).otherwise(pubUrl).as("host_organization"),
        when(isRepo, col("institution_name")).otherwise(col("publisher_name"))
          .as("host_organization_name"),
        when(isRepoOrMeta && col("institution_id").isNotNull, array(instUrl))
          .otherwise(array_compact(array(pubUrl,
            col("parent_publisher").getField("id"))))
          .as("host_organization_lineage"),
        coalesce(col("works_count"), lit(0)).as("works_count"),
        coalesce(col("oa_works_count"), lit(0)).as("oa_works_count"),
        coalesce(col("cited_by_count").cast("int"), lit(0))
          .as("cited_by_count"),
        Metrics.zeroedSummaryStruct.as("summary_stats"),
        coalesce(col("is_oa"), lit(false)).as("is_oa"),
        coalesce(col("is_in_doaj"), lit(false)).as("is_in_doaj"),
        col("is_in_doaj_start_year").cast("int").as("is_in_doaj_since_year"),
        coalesce(col("is_oa_high_oa_rate"), lit(false)).as("is_high_oa_rate"),
        col("high_oa_rate_start_year").cast("int")
          .as("is_high_oa_rate_since_year"),
        coalesce(col("is_in_scielo"), lit(false)).as("is_in_scielo"),
        coalesce(col("is_ojs"), lit(false)).as("is_ojs"),
        coalesce(col("is_core"), lit(false)).as("is_core"),
        coalesce(col("is_preprint_repository"), lit(false))
          .as("is_preprint_repository"),
        (coalesce(col("high_oa_rate_start_year"), col("is_in_doaj_start_year"))
          - 1).cast("int").as("oa_flip_year"),
        col("first_publication_year").cast("int").as("first_publication_year"),
        col("last_publication_year").cast("int").as("last_publication_year"),
        struct(
          concat(lit(OA + "S"), col("id").cast("string")).as("openalex"),
          col("issn_l"), col("issns").as("issn"),
          col("id").cast("string").as("mag"),
          col("wikidata_id").as("wikidata")).as("ids"),
        col("webpage").as("homepage_url"),
        col("apc_prices"), col("apc_usd"),
        sort_array(transform(map_entries(col("apc_usd_by_year")),
          e => struct(e.getField("key").cast("int").as("year"),
            e.getField("value").as("price"))), asc = false)
          .as("apc_usd_by_year"),
        col("country_code"),
        coalesce(col("societies"), array().cast(Sources.societiesT))
          .as("societies"),
        coalesce(col("alternate_titles"), array().cast("array<string>"))
          .as("alternate_titles"),
        col("type"),
        coalesce(col("topics"), array().cast(
          "array<struct<id:string,display_name:string,count:int," +
            "subfield:string,field:string,domain:string>>")).as("topics"),
        coalesce(col("topic_share"), array().cast(
          "array<struct<id:string,display_name:string,value:double," +
            "subfield:string,field:string,domain:string>>")).as("topic_share"),
        coalesce(col("counts_by_year"), array().cast(
          "array<struct<year:int,works_count:int,oa_works_count:int," +
            "cited_by_count:int>>")).as("counts_by_year"),
        concat(lit("https://api.openalex.org/works?filter=primary_location." +
          "source.id:S"), col("id").cast("string")).as("works_api_url"),
        lit(null).cast("timestamp").as("updated_date"),
        col("created_date"))
  }

  /** The cells-1/4 canonical content string: CONCAT_WS('|') over every
    * exported field EXCEPT topic_share (corpus-dependent), updated/
    * created dates and the derived URL fields — hash equality ⟺ string
    * equality, so a SQL oracle can gate on the string while the engine
    * hashes it. */
  def contentKey: Column = {
    import graft.core.Incremental.{contentJson => j, contentStr => s}
    concat_ws("|",
      col("id").cast("string"),
      s(col("display_name"), ""), s(col("issn_l"), ""),
      j(col("issn"), "[]"),
      s(col("host_organization"), ""), s(col("host_organization_name"), ""),
      s(col("works_count"), "0"), s(col("oa_works_count"), "0"),
      s(col("cited_by_count"), "0"),
      j(col("summary_stats"), "{}"),
      s(col("is_oa"), "false"), s(col("is_in_doaj"), "false"),
      s(col("is_in_doaj_since_year"), ""),
      s(col("is_high_oa_rate"), "false"),
      s(col("is_high_oa_rate_since_year"), ""),
      s(col("is_in_scielo"), "false"), s(col("is_ojs"), "false"),
      s(col("is_core"), "false"), s(col("is_preprint_repository"), "false"),
      s(col("oa_flip_year"), ""),
      s(col("first_publication_year"), ""), s(col("last_publication_year"), ""),
      s(col("homepage_url"), ""), s(col("type"), ""),
      j(col("apc_prices"), "[]"), s(col("apc_usd"), ""),
      s(col("country_code"), ""),
      j(col("societies"), "[]"), j(col("alternate_titles"), "[]"),
      s(col("ids").getField("wikidata"), ""),
      j(col("topics"), "[]"), j(col("counts_by_year"), "[]"))
  }
}
