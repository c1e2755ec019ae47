package graft.works

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.MergeInto

/** The work-references pipeline (reference:
  * notebooks/parsing/parse_work_references.ipynb): raw `references`
  * structs on locations → exploded `work_references` rows →
  * staged id resolution against the work-id map → the per-work
  * `referenced_works` array that CreateWorksEnriched merges.
  *
  * Reference semantics kept:
  *  - the empty-sentinel filter (a 1-element references array whose
  *    doi/pmid/arxiv/title/raw are all NULL is "no references");
  *  - INSERT-ONLY newness on (citing_work_id, ref_ind) — references
  *    do not churn, so existing rows (and their resolved ids) are
  *    never rewritten;
  *  - DOI resolution first: source = work_id_map grouped by
  *    LOWER(doi) with MIN(paper_id)/MIN(id)/MIN(pmid)/
  *    MAX(title_author); `cited_work_id = COALESCE(paper_id, id)`
  *    only where still NULL, pmid/title_author backfilled;
  *  - PMID resolution second, from map rows where `doi IS NULL`
  *    (the reference found doi-bearing pmid rows add erroneous
  *    refs), again only where cited is still NULL. The notebook's
  *    third "title_author" MERGE repeats the pmid MERGE body
  *    verbatim (a copy slip) — a no-op after the second pass, so it
  *    is not ported;
  *  - referenced_works = ARRAY_SORT(COLLECT_SET(cited)) per citing
  *    work, NULLs dropped.
  *
  * Scale: both resolution passes are [[MergeInto]] runs — one
  * null-safe-keyed join each, update-in-place semantics without
  * rewriting unmatched rows; the map side is pre-aggregated to one
  * row per key so the join never fans out.
  */
object WorkReferences {

  private val RefFields =
    Seq("doi", "pmid", "arxiv", "title", "authors", "year", "raw")

  /** Explode `references` into work_references rows (the CTAS cell),
    * dropping the no-references sentinel shape. Empty and null
    * `references` give no rows; the first element is read with
    * `try_element_at`, because Spark may evaluate the sentinel test
    * before the size guard and `getItem(0)` throws on `[]` under ANSI. */
  def explodeRefs(locations: DataFrame): DataFrame = {
    val r0 = try_element_at(col("references"), lit(1))
    val sentinel = size(col("references")) === 1 &&
      Seq("doi", "pmid", "title", "arxiv", "raw")
        .map(f => r0.getField(f).isNull).reduce(_ && _)
    locations
      .filter(col("references").isNotNull && size(col("references")) > 0 &&
        !sentinel)
      .select(col("native_id"), col("native_id_namespace"),
        col("work_id").as("citing_work_id"), col("provenance"),
        posexplode(col("references")).as(Seq("ref_ind", "ref")))
      .select(Seq(col("native_id"), col("native_id_namespace"),
        col("citing_work_id"), col("ref_ind"), col("provenance")) ++
        RefFields.map(f => col("ref").getField(f).as(f)) :+
        lit(null).cast("long").as("cited_work_id") :+
        lit(null).cast("string").as("title_author"): _*)
  }

  /** INSERT-ONLY newness: keep every existing row untouched, add
    * exploded rows whose (citing_work_id, ref_ind) is new. */
  def insertNew(existing: DataFrame, exploded: DataFrame): DataFrame =
    existing.unionByName(
      exploded.join(existing.select(col("citing_work_id"), col("ref_ind")),
        Seq("citing_work_id", "ref_ind"), "left_anti"),
      allowMissingColumns = true)

  /** DOI pass: map grouped by LOWER(doi); update-only-when-NULL. */
  def resolveByDoi(refs: DataFrame, idMap: DataFrame): DataFrame = {
    val source = idMap.filter(col("doi").isNotNull)
      .groupBy(lower(col("doi")).as("__key"))
      .agg(min(col("paper_id")).as("paper_id"), min(col("id")).as("map_id"),
        min(col("pmid")).as("map_pmid"),
        max(col("title_author")).as("map_ta"))
    new MergeInto(refs.withColumn("__key", lower(col("doi"))),
        source, Seq("__key"))
      .whenMatchedUpdate(Map(
        "cited_work_id" -> coalesce(col("__src.paper_id"), col("__src.map_id")),
        "pmid" -> coalesce(col("__src.map_pmid"), col("__tgt.pmid")),
        "title_author" -> coalesce(col("__src.map_ta"), col("__tgt.title_author"))),
        condition = col("__tgt.cited_work_id").isNull &&
          col("__tgt.__key").isNotNull)
      .run().drop("__key")
  }

  /** PMID pass: map rows with `doi IS NULL` only, grouped by
    * LOWER(pmid); update-only-when-NULL. */
  def resolveByPmid(refs: DataFrame, idMap: DataFrame): DataFrame = {
    val source = idMap.filter(col("pmid").isNotNull && col("doi").isNull)
      .groupBy(lower(col("pmid")).as("__key"))
      .agg(min(col("paper_id")).as("paper_id"), min(col("id")).as("map_id"),
        max(col("title_author")).as("map_ta"))
    new MergeInto(refs.withColumn("__key", lower(col("pmid"))),
        source, Seq("__key"))
      .whenMatchedUpdate(Map(
        "cited_work_id" -> coalesce(col("__src.paper_id"), col("__src.map_id")),
        "title_author" -> coalesce(col("__src.map_ta"), col("__tgt.title_author"))),
        condition = col("__tgt.cited_work_id").isNull &&
          col("__tgt.__key").isNotNull)
      .run().drop("__key")
  }

  /** The per-work resolved array (the referenced_works CTAS). */
  def referencedWorks(refs: DataFrame): DataFrame =
    refs.filter(col("cited_work_id").isNotNull)
      .groupBy(col("citing_work_id"))
      .agg(array_sort(collect_set(col("cited_work_id")))
        .as("referenced_works"))
}
