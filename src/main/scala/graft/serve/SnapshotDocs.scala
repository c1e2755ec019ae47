package graft.serve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Per-entity snapshot doc-struct assembly (reference:
  * notebooks/snapshot/export_works.ipynb cell 3 and the thin sibling
  * export_{authors,institutions,sources,funders,publishers,awards,
  * concepts,keywords}.ipynb): reshapes each API entity table into the
  * exact field whitelist the public snapshot publishes, then
  * [[SnapshotWriter]] lands it as partitioned JSONL + parquet.
  *
  * Everything here is builtin-column composition (codegen'd; no UDF):
  * the reference's one Python UDF — truncate_abstract_index_string —
  * is re-expressed as a binary-cast byte cut + a trailing-run
  * regexp strip (see [[truncateAbstractIndex]]).
  */
object SnapshotDocs {

  /** sanitize_name (export_works.ipynb cell 3): strip characters
    * outside letters/numbers/punctuation/symbols/separators of ANY
    * script, collapse whitespace runs, trim.
    *
    * r18: evaluates via the native [[graft.plans.SanitizeName]]
    * expression — one fused code-point pass instead of two interpreted
    * Unicode-class regex scans plus a trim (the works doc projection
    * is too wide for whole-stage codegen, so every regex ran
    * interpreted per row). The Column chain lives on as the test-scope
    * spec (ChainSpecs); SnapshotDocsSpec asserts parity over a Unicode
    * battery. */
  def sanitizeName(c: Column): Column =
    org.apache.spark.sql.GraftExpr.column(graft.plans.SanitizeName(
      org.apache.spark.sql.GraftExpr.expression(c)))

  /** sanitize_string: cap to `maxLen` chars, null stays null. */
  def sanitizeString(c: Column, maxLen: Int = 32000): Column =
    when(c.isNotNull, substring(c, 1, maxLen))

  /** truncate_abstract_index_string (export_works.ipynb cell 3): the
    * inverted-abstract JSON string is dropped when empty or invalid,
    * passed through when ≤ maxBytes/4 chars or ≤ maxBytes UTF-8
    * bytes, else cut at maxBytes BYTES and closed at the last `]`
    * (null when no `]` survives the cut).
    *
    * Spark-first re-expression of the reference's Python UDF: the
    * byte cut is substring over a binary cast; the malformed
    * trailing bytes a mid-codepoint cut leaves behind decode to
    * replacement chars, which the `[^\]]*$` strip removes together
    * with everything after the last `]` — byte-for-byte the
    * reference's decode(errors='ignore') + rfind(']'). Validity is
    * schema-aware (object of word → positions) where the reference
    * accepts any JSON document — identical verdicts on the real
    * inverted-index domain. */
  def truncateAbstractIndex(c: Column, maxBytes: Int = 32760): Column = {
    val parsed = from_json(c, "map<string,array<int>>",
      Map.empty[String, String])
    val cut = regexp_replace(
      substring(c.cast("binary"), 1, maxBytes).cast("string"),
      "[^\\]]*$", "")
    when(c.isNull || length(c) === 0, lit(null).cast("string"))
      .when(parsed.isNull, lit(null).cast("string"))
      .when(length(c) <= maxBytes / 4, c)
      .when(octet_length(c) <= maxBytes, c)
      .when(length(cut) === 0, lit(null).cast("string"))
      .otherwise(concat(cut, lit("}")))
  }

  /** Keep a timestamp/date only inside [lo, hi] (the reference's
    * created/updated 1000-01-01..9999-12-31 and publication
    * 1000-01-01..2050-12-31 windows). */
  def validWindow(c: Column, lo: String, hi: String): Column =
    when(c.between(lit(lo), lit(hi)), c)

  /** coalesce-to-empty-array with the column's OWN element type (the
    * reference's `F.coalesce(col, F.lit([]))` / explicit casts). */
  private def emptyArr(df: DataFrame, name: String): Column = {
    val dt: DataType = df.schema(name).dataType
    coalesce(col(name), array().cast(dt match {
      case a: ArrayType => a
      case other => other
    }))
  }

  /** The snapshot location struct (shared by locations,
    * primary_location, best_oa_location): native_id exposed as `id`,
    * is_published derived, URL fields capped at 32K. */
  private def locDoc(x: Column): Column = struct(
    x.getField("native_id").as("id"),
    x.getField("source").as("source"),
    x.getField("is_oa").as("is_oa"),
    (x.getField("version") === "publishedVersion").as("is_published"),
    substring(x.getField("landing_page_url"), 1, 32000)
      .as("landing_page_url"),
    substring(x.getField("pdf_url"), 1, 32000).as("pdf_url"),
    x.getField("raw_source_name").as("raw_source_name"),
    x.getField("raw_type").as("raw_type"),
    x.getField("provenance").as("provenance"),
    x.getField("license").as("license"),
    x.getField("license_id").as("license_id"),
    x.getField("version").as("version"),
    x.getField("is_accepted").as("is_accepted"))

  /** Singleton-struct reshape via transform-over-array (the
    * reference's `transform(array(c), …)[0]` idiom — keeps a null
    * struct null instead of nulling field-by-field). */
  private def locDocOne(c: Column): Column =
    transform(array(c), locDoc(_)).getItem(0)

  /** indexed_in (export_works.ipynb cell 3, matching elastic sync):
    * per-location registry membership flattened to a sorted distinct
    * list. Runs over the RESHAPED locations (fields id/source). */
  private def indexedIn(locations: Column): Column = {
    val perLoc = (loc: Column) => {
      val prov = loc.getField("provenance")
      when(prov.isin("crossref", "pubmed", "datacite"),
        array(prov, when(loc.getField("source").getField("is_in_doaj"),
          lit("doaj"))))
        .when(prov === "repo" &&
          lower(loc.getField("id")).like("oai:arxiv.org%"),
          array(lit("arxiv")))
        .when(prov === "repo" &&
          lower(loc.getField("id")).like("oai:doaj.org/%"),
          array(lit("doaj")))
        .when(prov === "mag" &&
          lower(loc.getField("source").getField("display_name")) === "pubmed",
          array(lit("pubmed")))
        .otherwise(array().cast("array<string>"))
    }
    array_sort(array_distinct(array_compact(
      flatten(transform(locations, perLoc)))))
  }

  /** The authorship struct with 32K caps on the raw string fields
    * (kept WITHOUT the elastic sync's 100-authorship slice — the
    * snapshot exports all seats). */
  private def authorshipDoc(x: Column): Column = struct(
    x.getField("author").as("author"),
    substring(x.getField("author_position"), 1, 32000)
      .as("author_position"),
    x.getField("affiliations").as("affiliations"),
    x.getField("countries").as("countries"),
    substring(x.getField("raw_author_name"), 1, 32000)
      .as("raw_author_name"),
    x.getField("raw_orcid").as("raw_orcid"),
    x.getField("is_corresponding").as("is_corresponding"),
    transform(x.getField("raw_affiliation_strings"),
      a => substring(a, 1, 32000)).as("raw_affiliation_strings"),
    x.getField("institutions").as("institutions"))

  /** The works snapshot doc (export_works.ipynb cell 3): filter to
    * positive ids, URL-prefix ids/concepts/referenced_works,
    * validate date windows, sanitize display strings, reshape
    * authorships/locations, derive indexed_in / has_fulltext /
    * counts, coalesce null arrays, and select the exact snapshot
    * field whitelist.
    *
    * @param maxAbstractBytes the inverted-index byte cap (the
    *   reference UDF's max_bytes, default 32760). */
  def worksDoc(works: DataFrame, maxAbstractBytes: Int = 32760): DataFrame = {
    val base = works
      .filter(col("id").isNotNull && col("id") > 0)
      .withColumn("display_name", col("title"))
      .withColumn("created_date", to_timestamp(col("created_date")))
      .withColumn("updated_date", to_timestamp(col("updated_date")))
      .withColumn("publication_date", to_date(col("publication_date")))
      .withColumn("concepts", transform(col("concepts"), c => struct(
        concat(lit("https://openalex.org/C"), c.getField("id")).as("id"),
        c.getField("wikidata").as("wikidata"),
        c.getField("display_name").as("display_name"),
        c.getField("level").as("level"),
        c.getField("score").as("score"))))
      .withColumn("created_date",
        validWindow(col("created_date"), "1000-01-01", "9999-12-31")
          .cast("timestamp"))
      .withColumn("updated_date", coalesce(
        validWindow(col("updated_date"), "1000-01-01", "9999-12-31"),
        col("created_date")).cast("timestamp"))
      .withColumn("publication_date",
        validWindow(col("publication_date"), "1000-01-01", "2050-12-31")
          .cast("date"))
      .withColumn("id", concat(lit("https://openalex.org/W"), col("id")))
      .withColumn("publication_year", year(col("publication_date")))
      // display_name was set to the raw title above, so sanitizing it
      // separately ran the two Unicode-class regex passes TWICE per
      // row; aliasing the sanitized title computes them once
      // (CollapseProject keeps the multi-referenced non-cheap alias in
      // its own projection level — the r17 loc-struct hoist pattern)
      .withColumn("title", sanitizeName(col("title")))
      .withColumn("display_name", col("title"))
      .withColumn("ids", transform_values(col("ids"), (k, v) =>
        when(k === "doi", concat(lit("https://doi.org/"), v)).otherwise(v)))
      .withColumn("doi", sanitizeString(col("doi")))
      .withColumn("language", sanitizeString(col("language")))
      .withColumn("type", sanitizeString(col("type")))
      .withColumn("referenced_works", transform(col("referenced_works"),
        x => concat(lit("https://openalex.org/W"), x)))
      .withColumn("referenced_works_count",
        when(col("referenced_works").isNotNull, size(col("referenced_works")))
          .otherwise(0))
      .withColumn("abstract_inverted_index",
        truncateAbstractIndex(col("abstract_inverted_index"),
          maxAbstractBytes))
      .withColumn("open_access", struct(
        col("open_access.is_oa").as("is_oa"),
        sanitizeString(col("open_access.oa_status")).as("oa_status"),
        col("open_access.any_repository_has_fulltext")
          .as("any_repository_has_fulltext"),
        col("open_access.oa_url").as("oa_url")))
      .withColumn("authorships",
        transform(col("authorships"), authorshipDoc(_)))
      .withColumn("locations", transform(col("locations"), locDoc(_)))
      .withColumn("primary_location", locDocOne(col("primary_location")))
      .withColumn("best_oa_location", locDocOne(col("best_oa_location")))
      .withColumn("concepts", slice(col("concepts"), 1, 40))
      .withColumn("indexed_in", indexedIn(col("locations")))
      .withColumn("has_fulltext", col("fulltext").isNotNull)
    val coalesced = Seq("corresponding_author_ids",
      "corresponding_institution_ids", "sustainable_development_goals",
      "related_works", "mesh", "authorships")
      .foldLeft(base)((d, n) => d.withColumn(n, emptyArr(d, n)))
    coalesced.select("id", "doi", "title", "display_name", "ids",
      "indexed_in", "publication_date", "publication_year", "language",
      "type", "authorships", "authors_count", "corresponding_author_ids",
      "corresponding_institution_ids", "primary_topic", "topics",
      "keywords", "concepts", "locations", "locations_count",
      "primary_location", "best_oa_location",
      "sustainable_development_goals", "awards", "funders", "institutions",
      "countries_distinct_count", "institutions_distinct_count",
      "open_access", "is_paratext", "is_retracted", "is_xpac", "biblio",
      "referenced_works", "referenced_works_count", "related_works",
      "abstract_inverted_index", "cited_by_count", "counts_by_year",
      "apc_list", "apc_paid", "fwci", "citation_normalized_percentile",
      "cited_by_percentile_year", "mesh", "has_content", "has_fulltext",
      "created_date", "updated_date")
  }

  /** One thin sibling entity (export_{institutions,sources,funders,
    * publishers,awards,concepts,keywords}.ipynb and the
    * export_common_entities / export_topic_hierarchy loops): optional
    * numeric-id URL prefixing, null arrays → empty, optional drops. */
  def entityDoc(df: DataFrame, idPrefix: Option[String],
      arrayCols: Seq[String], dropCols: Seq[String] = Nil): DataFrame = {
    val prefixed = idPrefix.fold(df)(p => df.withColumn("id",
      concat(lit("https://openalex.org/" + p), col("id"))))
    val coalesced = arrayCols.foldLeft(prefixed)((d, n) =>
      d.withColumn(n, emptyArr(d, n)))
    val dropped = coalesced.drop(dropCols: _*)
    if (dropped.columns.contains("original_id")) dropped.drop("original_id")
    else dropped
  }

  def institutionsDoc(df: DataFrame): DataFrame =
    entityDoc(df, Some("I"), Seq("lineage", "display_name_acronyms",
      "display_name_alternatives", "roles", "repositories", "topics",
      "topic_share", "associated_institutions", "counts_by_year"))

  def sourcesDoc(df: DataFrame): DataFrame =
    entityDoc(df, Some("S"), Seq("issn", "host_organization_lineage",
      "apc_prices", "societies", "alternate_titles", "topics",
      "topic_share", "counts_by_year"))

  def fundersDoc(df: DataFrame): DataFrame =
    entityDoc(df, Some("F"), Seq("alternate_titles", "roles",
      "counts_by_year"))

  def publishersDoc(df: DataFrame): DataFrame =
    entityDoc(df, Some("P"), Seq("lineage", "alternate_titles",
      "country_codes", "roles", "counts_by_year"))

  /** Awards: G-prefixed id, drop the internal funder_id (already in
    * the funder struct). */
  def awardsDoc(df: DataFrame): DataFrame =
    entityDoc(df, Some("G"), Seq("investigators", "funded_outputs"),
      dropCols = Seq("funder_id"))

  def conceptsDoc(df: DataFrame): DataFrame =
    entityDoc(df, Some("C"), Nil)

  /** Keywords are already full-URL keyed — pass-through. */
  def keywordsDoc(df: DataFrame): DataFrame = entityDoc(df, None, Nil)

  /** One row of the snapshot entity registry (the union of
    * update_meta.ipynb's ENTITIES list with each export notebook's
    * id transform / array coalesces / salting choice). */
  final case class EntitySpec(name: String, idPrefix: Option[String],
      arrayCols: Seq[String], dropCols: Seq[String] = Nil,
      salt: Boolean = false)

  /** All 21 snapshot entities. `works` and `authors` have dedicated
    * struct-reshaping builders ([[worksDoc]], [[authorsDoc]]) — their
    * spec rows carry only the export parameters; every other entity is
    * fully described by its spec and runs through [[entityDoc]] via
    * [[docFor]]. */
  val entitySpecs: Seq[EntitySpec] = Seq(
    EntitySpec("works", None, Nil, salt = true),
    EntitySpec("authors", None, Nil, salt = true),
    EntitySpec("institutions", Some("I"), Seq("lineage",
      "display_name_acronyms", "display_name_alternatives", "roles",
      "repositories", "topics", "topic_share", "associated_institutions",
      "counts_by_year")),
    EntitySpec("sources", Some("S"), Seq("issn",
      "host_organization_lineage", "apc_prices", "societies",
      "alternate_titles", "topics", "topic_share", "counts_by_year")),
    EntitySpec("publishers", Some("P"), Seq("lineage", "alternate_titles",
      "country_codes", "roles", "counts_by_year")),
    EntitySpec("funders", Some("F"), Seq("alternate_titles", "roles",
      "counts_by_year")),
    EntitySpec("topics", Some("T"), Seq("keywords", "siblings")),
    EntitySpec("subfields", Some("subfields/"),
      Seq("display_name_alternatives", "topics", "siblings")),
    EntitySpec("fields", Some("fields/"),
      Seq("display_name_alternatives", "subfields", "siblings")),
    EntitySpec("domains", Some("domains/"),
      Seq("display_name_alternatives", "fields", "siblings")),
    EntitySpec("concepts", Some("C"), Nil),
    EntitySpec("keywords", None, Nil),
    EntitySpec("awards", Some("G"), Seq("investigators", "funded_outputs"),
      dropCols = Seq("funder_id"), salt = true),
    EntitySpec("continents", None,
      Seq("display_name_alternatives", "countries")),
    EntitySpec("countries", None, Seq("display_name_alternatives")),
    EntitySpec("institution-types", None, Nil),
    EntitySpec("languages", None, Nil),
    EntitySpec("licenses", None, Nil),
    EntitySpec("sdgs", None, Nil),
    EntitySpec("source-types", None, Nil),
    EntitySpec("work-types", None, Nil))

  /** Entity-table → snapshot doc by name (works/authors route to their
    * dedicated builders). */
  def docFor(name: String, df: DataFrame): DataFrame = name match {
    case "works" => worksDoc(df)
    case "authors" => authorsDoc(df)
    case other =>
      val spec = entitySpecs.find(_.name == other).getOrElse(
        throw new IllegalArgumentException(s"unknown snapshot entity: $other"))
      entityDoc(df, spec.idPrefix, spec.arrayCols, spec.dropCols)
  }

  /** Authors (export_authors.ipynb): A-prefixed id, topics and
    * topic_share capped at 5, x_concepts re-keyed to the C URL with
    * the legacy col4 renamed to level, display_name_alternatives
    * mirrored from raw_author_names, null arrays → empty, and the
    * explicit 20-field whitelist. */
  def authorsDoc(df: DataFrame): DataFrame = {
    val base = df
      .withColumn("id",
        concat(lit("https://openalex.org/A"), col("id").cast("string")))
      .withColumn("topics", slice(col("topics"), 1, 5))
      .withColumn("topic_share", slice(col("topic_share"), 1, 5))
      .withColumn("x_concepts", transform(col("x_concepts"), c => struct(
        concat(lit("https://openalex.org/C"),
          c.getField("id").cast("string")).as("id"),
        c.getField("wikidata").as("wikidata"),
        c.getField("display_name").as("display_name"),
        c.getField("col4").as("level"),
        c.getField("score").as("score"),
        c.getField("count").as("count"))))
      .withColumn("raw_author_names", emptyArr(df, "raw_author_names"))
      .withColumn("display_name_alternatives", col("raw_author_names"))
    val coalesced = Seq("affiliations", "last_known_institutions",
      "topics", "topic_share", "x_concepts", "sources", "counts_by_year")
      .foldLeft(base)((d, n) => d.withColumn(n, emptyArr(d, n)))
    coalesced.select("id", "display_name", "display_name_alternatives",
      "raw_author_names", "full_name", "orcid", "works_count",
      "cited_by_count", "summary_stats", "ids", "affiliations",
      "last_known_institutions", "topics", "topic_share", "x_concepts",
      "sources", "counts_by_year", "works_api_url", "updated_date",
      "created_date")
  }
}
