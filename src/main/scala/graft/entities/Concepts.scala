package graft.entities

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Concepts + keywords satellite builds (reference:
  * notebooks/concepts/CreateConceptsAPI.ipynb, concepts_merge_output
  * .ipynb, notebooks/keywords/CreateKeywordsAPI.ipynb).
  *
  * Three shapes:
  *  - [[enrichLmOutput]] — the merge_output enrichment: model scores
  *    joined to the concept registry, per-work sorted+capped concept
  *    array, keyword structs from level>1 concepts with the slug id
  *    and the tanh-sized dynamic keyword count (2..12).
  *  - [[conceptsApi]] / [[keywordsApi]] — the API rebuilds: per-work
  *    dedup then counts aggregation, joined to registry metadata
  *    (wikipedia JSON parse for concepts, min created date for
  *    keywords).
  *  - change detection across rebuilds: [[graft.core.Incremental]]
  *    (the hash cells are shared verbatim across the satellite API
  *    notebooks).
  *
  * Scale: registry sides are vocabulary-bounded (~65K concepts) —
  * broadcast; the works side takes exactly one shuffle per
  * aggregation boundary (explode feeds a hash aggregate with map-side
  * partials; the per-(work, concept) dedup and the per-concept counts
  * share the aggregation pattern of the authors satellites).
  */
object Concepts {

  /** score DESC, id ASC — the reference's array_sort comparator
    * (concepts_merge_output.ipynb). Works for both concept structs
    * (long id) and keyword structs (string id). */
  private def cmp(l: Column, r: Column): Column =
    when(l.getField("score") > r.getField("score"), -1)
      .when(l.getField("score") < r.getField("score"), 1)
      .when(l.getField("id") < r.getField("id"), -1)
      .when(l.getField("id") > r.getField("id"), 1)
      .otherwise(0)

  /** Keyword slug from a display name (concepts_merge_output.ipynb):
    * drop apostrophes, strip parentheticals, squash runs of
    * disallowed characters to '-', trim edge dashes. */
  def keywordSlug(displayName: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(lower(displayName), "'", ""),
      "\\s*\\([^)]*\\)", ""),
      "[^\\^\\p{L}\\p{N}\\./–*#]+", "-"),
      "(^-+|-+$)", "")

  /** @param lm       (work_id, concepts: array<struct<id, score>>)
    * @param registry (concept_id, wikidata_id, display_name, level)
    * @return (work_id, concepts, keywords) — concepts capped at 40,
    *         keywords dynamically sized 2..12 by the tanh curve. */
  def enrichLmOutput(lm: DataFrame, registry: DataFrame): DataFrame = {
    // slug regex chain evaluated ONCE per registry row (vocabulary-
    // bounded, broadcast side) — not once per exploded work-concept row
    val reg = registry.withColumn("__slug",
      concat(lit("https://openalex.org/keywords/"), keywordSlug(col("display_name"))))
    val joined = lm
      .select(col("work_id"), explode(col("concepts")).as("concept"))
      .join(broadcast(reg), col("concept.id") === col("concept_id"))
      .select(col("work_id"), col("concept_id"),
        col("concept.score").cast("double").as("score"),
        col("wikidata_id"), col("display_name"), col("level"), col("__slug"))
      .distinct()
    val cStruct = struct(col("concept_id").as("id"),
      col("wikidata_id").as("wikidata"), col("display_name"),
      col("level"), round(col("score"), 4).as("score"))
    val kStruct = when(col("level") > 1, struct(col("__slug").as("id"),
      col("display_name"), round(col("score"), 4).as("score")))
    val agg = joined.groupBy(col("work_id")).agg(
      slice(array_sort(collect_set(cStruct), cmp), 1, 40).as("concepts"),
      array_sort(array_distinct(array_compact(collect_list(kStruct))), cmp)
        .as("keywords_full"))
    // the reference's keyword count: 5 + 6·tanh((n − 7) · 0.05), n the
    // keywords scoring above 0.20, clamped to 2..12
    val nAbove = size(filter(col("keywords_full"),
      k => k.getField("score") > 0.20))
    val target = greatest(lit(2), least(lit(12),
      round(lit(5.0) + lit(6.0) * tanh((nAbove - lit(7)) * lit(0.05)))))
    agg.select(col("work_id"), col("concepts"),
      slice(filter(col("keywords_full"), k => k.getField("score") > 0),
        lit(1), target.cast("int")).as("keywords"))
  }

  /** The concepts_api rebuild (CreateConceptsAPI.ipynb): per-work
    * concept dedup, works/citations counts, registry join with the
    * wikipedia JSON parse (image / thumbnail / description paths).
    * ANY_VALUE in the reference is min here for determinism.
    * @param works    (work_id, cited_by_count, concepts: array<struct
    *                 <id, display_name>>)
    * @param registry (concept_id, wikidata_id, merge_into_id, level,
    *                 wikipedia_json, created_date) */
  def conceptsApi(works: DataFrame, registry: DataFrame): DataFrame = {
    val dedup = works
      .select(col("work_id"), col("cited_by_count"), explode(col("concepts")).as("c"))
      .groupBy(col("work_id"), col("c.id").as("concept_id"))
      .agg(min(col("c.display_name")).as("dn"), max(col("cited_by_count")).as("cbc"))
    val counts = dedup.groupBy(col("concept_id")).agg(
      min(col("dn")).as("display_name"),
      count(lit(1)).cast("int").as("works_count"),
      sum(col("cbc")).cast("int").as("cited_by_count"))
    val parsed = registry
      .filter(col("wikidata_id").isNotNull && col("merge_into_id").isNull)
      .withColumn("wd", get_json_object(col("wikipedia_json"), "$.query.pages[0]"))
      .select(col("concept_id"), col("level"), col("wikidata_id"), col("created_date"),
        get_json_object(col("wd"), "$.original.source").as("image_url"),
        get_json_object(col("wd"), "$.thumbnail.source").as("image_thumbnail_url"),
        get_json_object(col("wd"), "$.terms.description[0]").as("description"))
    counts.join(broadcast(parsed), Seq("concept_id"))
      .select(col("concept_id").as("id"), col("display_name"), col("level"),
        col("description"), col("wikidata_id").as("wikidata"),
        col("image_url"), col("image_thumbnail_url"),
        col("works_count"), col("cited_by_count"),
        struct(
          concat(lit("https://openalex.org/C"), col("concept_id").cast("string")).as("openalex"),
          col("wikidata_id").as("wikidata"),
          concat(lit("https://en.wikipedia.org/wiki/"),
            regexp_replace(lower(col("display_name")), " ", "_")).as("wikipedia")).as("ids"),
        concat(lit("https://api.openalex.org/works?filter=concepts.id:"),
          col("concept_id").cast("string")).as("works_api_url"),
        col("created_date"))
  }

  /** The keywords_api rebuild (CreateKeywordsAPI.ipynb): per-work
    * keyword dedup, counts, min-created registry join on the slug
    * stripped of its url prefix.
    * @param works    (work_id, cited_by_count, keywords: array<struct
    *                 <id, display_name>>) — id carries the full url
    * @param registry (keyword_id, created_datetime) */
  def keywordsApi(works: DataFrame, registry: DataFrame): DataFrame = {
    val dedup = works
      .select(col("work_id"), col("cited_by_count"), explode(col("keywords")).as("k"))
      .groupBy(col("work_id"), col("k.id").as("id"))
      .agg(min(col("k.display_name")).as("dn"), max(col("cited_by_count")).as("cbc"))
    val counts = dedup.groupBy(col("id")).agg(
      min(col("dn")).as("display_name"),
      count(lit(1)).cast("int").as("works_count"),
      sum(col("cbc")).cast("int").as("cited_by_count"))
    val created = registry.groupBy(col("keyword_id"))
      .agg(min(col("created_datetime")).as("created_date"))
    counts.join(broadcast(created),
        regexp_replace(col("id"), "^https://openalex\\.org/keywords/", "")
          === col("keyword_id"))
      .select(col("id"), col("display_name"), col("works_count"),
        col("cited_by_count"),
        concat(lit("https://api.openalex.org/works?filter=keywords.id:keywords/"),
          col("keyword_id")).as("works_api_url"),
        col("created_date"))
  }

  /** Inference-input gate (concepts_create_input.ipynb): works still
    * needing concept inference — anti-join against already-tagged
    * works, non-null id/title, and the signal-length gates (short
    * title alone is not enough evidence to tag).
    * @param works  (work_id, title, abstract, journal, doc_type)
    * @param tagged (work_id) — works already in work_concepts */
  def inferenceInput(works: DataFrame, tagged: DataFrame): DataFrame =
    works
      .join(tagged.select(col("work_id")), Seq("work_id"), "left_anti")
      .filter(col("work_id").isNotNull && col("title").isNotNull &&
        ((length(col("title")) > 20 && length(col("abstract")) > 50) ||
          length(col("title")) > 50 || length(col("abstract")) > 150))
      .select(col("work_id"), col("title"), col("abstract"),
        col("journal"), col("doc_type"))

  // The API notebooks' content-hash change detection (xxhash64 over
  // '|'-joined columns, updated_date preserved unless content moved)
  // is [[graft.core.Incremental.hashSnapshot]] +
  // [[graft.core.Incremental.stampUpdatedDate]] — the same cells
  // appear verbatim in CreateAuthors/CreateConceptsAPI/
  // CreateKeywordsAPI; tested in IncrementalSpec and the entity API
  // specs.
}
