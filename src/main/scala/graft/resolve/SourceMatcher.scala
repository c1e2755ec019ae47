package graft.resolve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SourceMatcher: attach a source_id to every location — the
  * CreateLocationsWithSources step (reference: notebooks/end2end/
  * CreateLocationsWithSources.ipynb:73-87, the `locations_w_sources`
  * CTAS, then the MERGEs of cells 3-7). A location's provenance names
  * the registry keys it may match on:
  *
  *  - repo/repo_backfill  → its endpoint_id, via the endpoint→source
  *    map;
  *  - datacite            → the datacite_client ids in `ids[]`
  *    (relationship self or null);
  *  - pubmed              → none: the constant PubMed source;
  *  - everything else     → the ISSNs in `ids[]` (namespace contains
  *    "issn", relationship self-ish or null), ranked
  *    eissn > lissn > pissn then id text.
  *
  * The best-ranked key found in the registry wins (for datacite, the
  * lowest source id). Rows still unmatched then fall through the unique
  * display-name match, the manual url/doi/name/publisher cascade, the
  * ebook-platform publisher match (cell 5) and the normalized
  * display-name match (cell 7). Each input row leaves as exactly one
  * output row, matched from its own `ids`.
  *
  * Scale posture: one pass over the locations. The registry side is one
  * key index `(key_type, key) → (id, is_oa)` and three unique-name
  * indexes, all registry-sized (thousands of rows) and broadcast. The
  * location side is exploded to the handful of keys a row carries,
  * joined, and cut back to one row per input row by one row_number on a
  * row id; its partial WindowGroupLimit leaves one row per location
  * before the only location-side shuffle. No step splits the locations
  * and unions them back, so each location input is planned once.
  *
  * Determinism deviation (documented): the reference's per-work
  * best-match row_number breaks ties arbitrarily when one key maps to
  * several sources; here every key resolves to its lowest source id
  * (the reference's own `id_row_number` idiom, which its final join
  * leaves unused), so every pick is deterministic.
  */
object SourceMatcher {

  /** Registry rows excluded from matching (aggregators/catalogs that
    * would swallow repo locations — CreateLocationsWithSources.ipynb
    * `sources_filtered` CTE). */
  val defaultExcludedIds: Seq[Long] = Seq(
    4377196106L, // Internet Archive
    4306400349L, // CiteSeer X
    4308707206L, // B3Kat union catalog
    4377196246L, // CISION
    4306400063L, // Scopus
    7407052528L, // ResearchGate
    4306402117L, // Portail des Bibliotheques Municipales Specialisees
    7407051242L, // E-Pics Bildarchiv
    7407051288L, // WSL Landesforstinventar
    4306400108L, // Library Stack
    4306525896L) // Research Square duplicate

  /** All PubMed locations attach to the PubMed source. */
  private[resolve] val pubmedSourceId = 4306525036L

  /** `ids[].relationship` values that still denote "this work's own
    * ISSN" (version/variant/translation links). */
  private[resolve] val issnRelationships: Seq[String] = Seq(
    "self", "IsVersionOf", "IsNewVersionOf", "IsPreviousVersionOf",
    "IsVariantFormOf", "IsOriginalFormOf", "IsIdentialTo",
    "IsTranslationOf", "HasTranslation")

  private def issnNamespaceRank(ns: Column): Column =
    when(ns === "eissn", 1).when(ns === "lissn", 2).when(ns === "pissn", 3)

  /** (key_type, key) → the lowest eligible source id and its is_oa, over
    * the live registry rows that have an id and are not excluded. */
  private def registryIndex(live: DataFrame, endpointToSource: DataFrame,
      excluded: Seq[Long]): DataFrame = {
    val f = live.filter(col("id").isNotNull && !col("id").isin(excluded: _*))
    def keyed(keyType: String, key: Column, from: DataFrame = f) =
      from.select(lit(keyType).as("__kt"), key.as("__k"), f("id"), f("is_oa"))
    keyed("issn", explode(col("issns")))
      .unionByName(keyed("datacite", explode(col("datacite_ids"))))
      .unionByName(keyed("endpoint", endpointToSource("endpoint_id").cast("string"),
        endpointToSource.join(f, endpointToSource("source_id") === f("id"))))
      .groupBy(col("__kt"), col("__k"))
      .agg(min(col("id")).as("__src_id"), min_by(col("is_oa"), col("id")).as("__src_oa"))
  }

  /** The CTAS: every location with the source of its best-ranked key
    * found in `index` (`source_id` / `is_oa_source`, null when none). */
  private def bestMatch(locations: DataFrame, index: DataFrame): DataFrame = {
    val prov = col("provenance")
    val repo = prov.isin("repo", "repo_backfill")
    val datacite = prov === "datacite"
    val pubmed = prov === "pubmed"
    def selfIds(keep: (Column, Column) => Column) = filter(col("ids"), x =>
      keep(x.getField("namespace"), x.getField("relationship")))
    val candidates = when(repo || pubmed, lit(null))
      .when(datacite, selfIds((ns, rel) => ns === "datacite_client" &&
        (rel === "self" || rel.isNull)))
      .otherwise(selfIds((ns, rel) => ns.contains("issn") &&
        (rel.isin(issnRelationships.map(lit): _*) || rel.isNull)))
    val keyType = when(repo, "endpoint").when(datacite, "datacite").otherwise("issn")
    val cols = locations.columns.map(col)
    // per input row (a row id, not native_id, which may repeat): a match
    // first, then the ISSN rank; datacite candidates all tie on rank, so
    // their lowest source id wins
    val best = Window.partitionBy(col("__rid")).orderBy(col("__src_id").isNull,
      issnNamespaceRank(col("__c.namespace")).asc_nulls_last,
      when(keyType === "issn", col("__c.id")).asc_nulls_last, col("__src_id"))
    locations.withColumn("__rid", monotonically_increasing_id())
      .select(cols ++ Seq(col("__rid"), explode_outer(candidates).as("__c")): _*)
      .join(broadcast(index), keyType === col("__kt") &&
        when(repo, col("endpoint_id").cast("string")).otherwise(col("__c.id")) === col("__k"),
        "left")
      .withColumn("__best", row_number().over(best))
      .filter(col("__best") === 1)
      .select(cols ++ Seq(
        when(pubmed, lit(pubmedSourceId)).otherwise(col("__src_id")).as("source_id"),
        when(pubmed, lit(false)).otherwise(col("__src_oa")).as("is_oa_source")): _*)
  }

  /** Fills the source_id of still-unmatched rows whose `key` equals the
    * key of exactly one row of `rows` (`__fk`, `id`, `is_oa`), and their
    * is_oa_source too when `withOa`: a broadcast left join, then a
    * coalesce. */
  private def fillUnique(attached: DataFrame, key: Column, rows: DataFrame,
      withOa: Boolean): DataFrame = {
    val idx = rows.groupBy(col("__fk"))
      .agg(max(col("id")).as("__fid"), max(col("is_oa")).as("__foa"),
        count(lit(1)).as("__fn"))
      .filter(col("__fn") === 1 && col("__fk").isNotNull)
    val joined = attached.join(broadcast(idx),
      col("source_id").isNull && key === col("__fk"), "left")
      .withColumn("source_id", coalesce(col("source_id"), col("__fid")))
    (if (withOa) joined.withColumn("is_oa_source",
        coalesce(col("is_oa_source"), col("__foa")))
      else joined).drop("__fk", "__fid", "__foa", "__fn")
  }

  /** Manual cascade for still-unmatched rows: landing/pdf base-URL
    * map, DOI-prefix map, source-name map, publisher contains — the
    * hand-curated rules at the tail of the reference CTAS.
    *
    * Documented deviation: the reference derives the host with
    * `try_parse_url(url, 'HOST')`; this regex keeps userinfo/port forms
    * ("host:8080", "user@host") that parse_url would strip. Equivalent
    * for well-formed http(s) URLs, which is all this data carries. */
  private[resolve] def manualRules: Column = {
    val baseUrl = regexp_extract(
      coalesce(col("landing_page_url"), col("pdf_url")),
      "https?://(www\\.)?([^/]+)", 2)
    val byUrl = Seq(
      "europepmc.org" -> 4306400806L, "ci.nii.ac.jp" -> 4210197683L,
      "dialnet.unirioja.es" -> 4306401293L, "osti.gov" -> 4306402487L,
      "cqvip.com" -> 4306500507L, "books.openedition.org" -> 4210222637L,
      "cyberleninka.ru" -> 4306401404L, "ntrs.nasa.gov" -> 4306402118L,
      "scopus.com" -> 4306400063L)
      .foldLeft(when(lit(false), lit(null).cast("long"))) {
        case (acc, (host, sid)) => acc.when(baseUrl === host, sid)
      }
      .when(coalesce(col("landing_page_url"), col("pdf_url"))
        .contains("hal.science"), 4306402512L)
    val byDoi = Seq(
      "10.20944/preprints%" -> 6309402219L, "10.2139/ssrn.%" -> 4210172589L,
      "10.26434/chemrxiv%" -> 4393918830L)
      .foldLeft(byUrl) { case (acc, (pfx, sid)) =>
        acc.when(col("best_doi").like(pfx), sid) }
    val byName = Seq("biorxiv" -> 4306402567L, "medrxiv" -> 3005729997L,
      "research square" -> 4306402450L)
      .foldLeft(byDoi) { case (acc, (nm, sid)) =>
        acc.when(lower(col("source_name")) === nm, sid) }
    byName.when(
      lower(col("publisher")).contains("research square platform"),
      4306402450L)
  }

  // ── Post-CTAS passes (CreateLocationsWithSources.ipynb cells 3-7) ──

  /** The notebook's shared normalization for the two post-CTAS MERGEs:
    * `LOWER(REGEXP_REPLACE(x, '[^\p{L}\p{N}]', ''))` — strip everything
    * but letters and digits, lowercase. */
  private[resolve] def normalizedName(c: Column): Column =
    lower(regexp_replace(c, "[^\\p{L}\\p{N}]", ""))

  /** Source-native raw-type strings that mark a location as a book for
    * the ebook-platform publisher match (cell 3: the ingest `type` is
    * nulled by then — the cascade owns type — so the reference matches
    * the measured crossref/datacite enums + repo eu-repo URIs + top
    * free-text variants). */
  private[resolve] val bookRawTypes: Seq[String] = Seq(
    "book", "books", "book-chapter", "book chapter", "bookchapter",
    "ebook chapter", "book-part", "book part", "bookpart", "book section",
    "book article", "chapter", "inbook", "monograph", "printed monograph",
    "edited-book", "reference-book", "book-set", "libros", "libro",
    "info:eu-repo/semantics/book", "info:eu-repo/semantics/bookpart")

  /** Cell 7's exclusion list is the CTAS list MINUS the Research Square
    * duplicate (4306525896) — the notebook repeats the ids inline and
    * the final-fallback copy has only the 10; kept faithful. */
  private[resolve] val normalizedFallbackExcludedIds: Seq[Long] =
    defaultExcludedIds.filterNot(_ == 4306525896L)

  /** The CTAS, then the display-name fallback and the manual rules, then
    * the post-CTAS passes in notebook order: normalized columns
    * (cell 3), the ebook-platform publisher match on book-raw-typed rows
    * (cell 5), the normalized display-name final fallback (cell 7).
    * Output = `locations` + source_id, is_oa_source,
    * normalized_source_name, normalized_book_publisher; only the
    * display-name fallback also sets is_oa_source (the reference MERGEs
    * leave it untouched). `locations` must carry provenance, ids[],
    * endpoint_id, source_name, publisher, raw_type, best_doi,
    * landing_page_url and pdf_url. The display-name fallback matches
    * the raw registry; the exclusion lists apply to the CTAS and to
    * cell 7 only. */
  def attachSourcesFull(locations: DataFrame, sources: DataFrame,
      endpointToSource: DataFrame,
      excluded: Seq[Long] = defaultExcludedIds): DataFrame = {
    val live = sources.filter(col("merge_into_id").isNull)
    def rows(key: Column, from: DataFrame = live) =
      from.select(key.as("__fk"), col("id"), col("is_oa"))
    val ctas = fillUnique(
        bestMatch(locations, registryIndex(live, endpointToSource, excluded)),
        col("source_name"), rows(col("display_name")), withOa = true)
      .withColumn("source_id", coalesce(col("source_id"), manualRules))
      .withColumn("normalized_source_name", normalizedName(col("source_name")))
      .withColumn("normalized_book_publisher",
        when(lower(col("raw_type")).isin(bookRawTypes: _*) &&
          col("publisher").isNotNull, normalizedName(col("publisher"))))
    val ebook = fillUnique(ctas, col("normalized_book_publisher"),
      rows(normalizedName(col("publisher")), live.filter(
        col("type") === "ebook platform" && col("publisher").isNotNull)),
      withOa = false)
    fillUnique(ebook, col("normalized_source_name"),
      rows(normalizedName(col("display_name")),
        live.filter(!col("id").isin(normalizedFallbackExcludedIds: _*))),
      withOa = false)
  }
}
