package graft.resolve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import SourceMatcher.{bookRawTypes, defaultExcludedIds, issnRelationships,
  normalizedFallbackExcludedIds, normalizedName, pubmedSourceId}

/** The branch-per-provenance formulation of
  * [[SourceMatcher.attachSourcesFull]] — an executable spec only. It
  * splits the locations into four provenance tiers, matches the ISSN
  * tier per `native_id` and the datacite tier with a per-`native_id`
  * row_number, and runs the display-name fallback as a split and a
  * union. On locations with unique, non-null `native_id`s and a
  * provenance on every row it returns the same rows as the one-pass
  * matcher; SourceMatcherParitySpec pins the two against each other. */
object SourceMatcherReference {

  /** Registry rows eligible for matching: not merged away, id present,
    * not on the exclusion list. */
  def filteredSources(sources: DataFrame,
      excluded: Seq[Long] = defaultExcludedIds): DataFrame =
    sources.filter(col("merge_into_id").isNull && col("id").isNotNull &&
      !col("id").isin(excluded: _*))

  /** ISSN → (source id, is_oa) index: explode per-source ISSN arrays,
    * keep the lowest source id per ISSN. */
  def issnIndex(filtered: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("issn")).orderBy(col("id").asc)
    filtered.select(col("id"), col("is_oa").as("is_oa_source"),
        explode(col("issns")).as("issn"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** endpoint_id → (source id, is_oa) index via the endpoint→source
    * map; first source per endpoint by id asc. */
  def endpointIndex(endpointToSource: DataFrame, filtered: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("endpoint_id")).orderBy(col("id").asc)
    endpointToSource.join(filtered,
        endpointToSource("source_id") === filtered("id"))
      .select(endpointToSource("endpoint_id"), filtered("id"),
        filtered("is_oa").as("is_oa_source"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** datacite client id → (source id, is_oa) index. */
  def dataciteIndex(filtered: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("datacite_id")).orderBy(col("id").asc)
    filtered.filter(col("datacite_ids").isNotNull && size(col("datacite_ids")) > 0)
      .select(col("id"), col("is_oa").as("is_oa_source"),
        explode(col("datacite_ids")).as("datacite_id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  private def issnNamespaceRank(ns: Column): Column =
    when(ns === "eissn", 1).when(ns === "lissn", 2).when(ns === "pissn", 3)

  /** Primary-tier attach: route by provenance, return every location
    * with `source_id` / `is_oa_source` (null when no tier matched).
    * `locations` must carry provenance, native_id, ids[], endpoint_id. */
  def attachPrimary(locations: DataFrame, sources: DataFrame,
      endpointToSource: DataFrame,
      excluded: Seq[Long] = defaultExcludedIds): DataFrame = {
    val srcF = filteredSources(sources, excluded)
    val cols = locations.columns.map(col)

    // other (crossref/landing_page/…): extract self-ish ISSNs, rank
    // eissn > lissn > pissn then id text, take the best match per work.
    val others = locations.filter(
      !col("provenance").isin("repo", "repo_backfill", "datacite", "pubmed"))
    val relevant = explode_outer(filter(col("ids"), x =>
      x.getField("namespace").contains("issn") &&
        (x.getField("relationship").isin(issnRelationships.map(lit): _*) ||
          x.getField("relationship").isNull)))
    val ranked = others.select(cols :+ relevant.as("__rel"): _*)
      .withColumn("__nid_rn", row_number().over(Window.partitionBy(col("native_id"))
        .orderBy(issnNamespaceRank(col("__rel.namespace")).asc_nulls_last,
          col("__rel.id").asc_nulls_last)))
    // index columns aliased (__src_id/__src_oa) so a caller-supplied
    // `id`/`is_oa_source` location column can never make the window /
    // select references ambiguous (same idiom as the repo tier's __ep).
    val issnMatches = ranked
      .join(broadcast(issnIndex(srcF)
          .select(col("issn"), col("id").as("__src_id"),
            col("is_oa_source").as("__src_oa"))),
        ranked("__rel.id") === col("issn"))
      .withColumn("__best", row_number().over(Window.partitionBy(col("native_id"))
        .orderBy(col("__nid_rn").asc, col("__src_id").asc)))
      .filter(col("__best") === 1)
      .select(col("native_id").as("__mid"), col("__src_id").as("source_id"),
        col("__src_oa").as("is_oa_source"))
    val othersFinal = others.join(issnMatches,
      others("native_id") === col("__mid"), "left").drop("__mid")

    // datacite: extract the datacite_client id, join the client index,
    // keep the lowest-source match per work (unmatched rows stay).
    val datacite = locations.filter(col("provenance") === "datacite")
    val clientId = explode_outer(filter(col("ids"), x =>
      x.getField("namespace") === "datacite_client" &&
        (x.getField("relationship") === "self" ||
          x.getField("relationship").isNull)))
    val dcFinal = datacite.select(cols :+ clientId.as("__client"): _*)
      .join(broadcast(dataciteIndex(srcF)
          .select(col("datacite_id"), col("id").as("__src_id"),
            col("is_oa_source").as("__src_oa"))),
        col("__client.id") === col("datacite_id"), "left")
      .withColumn("__best", row_number().over(Window.partitionBy(col("native_id"))
        .orderBy(col("__src_id").asc_nulls_last)))
      .filter(col("__best") === 1)
      .select(cols ++ Seq(col("__src_id").as("source_id"),
        col("__src_oa").as("is_oa_source")): _*)

    // pubmed: constant source.
    val pmFinal = locations.filter(col("provenance") === "pubmed")
      .select(cols ++ Seq(lit(pubmedSourceId).as("source_id"),
        lit(false).as("is_oa_source")): _*)

    // repo: endpoint_id equijoin.
    val repoFinal = locations
      .filter(col("provenance").isin("repo", "repo_backfill"))
      .join(broadcast(endpointIndex(endpointToSource, srcF)
          .select(col("endpoint_id").as("__ep"), col("id").as("source_id"),
            col("is_oa_source"))),
        col("endpoint_id") === col("__ep"), "left")
      .drop("__ep")

    val out = cols ++ Seq(col("source_id"), col("is_oa_source"))
    Seq(othersFinal, dcFinal, pmFinal, repoFinal)
      .map(_.select(out: _*)).reduce(_.unionByName(_))
  }

  /** Display-name fallback: sources whose display_name is unique in the
    * registry (merge redirects excluded, exclusion list NOT applied —
    * the reference matches against the raw registry here) match
    * unmatched locations on source_name. */
  def displayNameFallback(attached: DataFrame, sources: DataFrame): DataFrame = {
    val uniq = sources.filter(col("merge_into_id").isNull)
      .groupBy(col("display_name"))
      .agg(max(col("id")).as("__sid"), max(col("is_oa")).as("__oa"),
        count(lit(1)).as("__cnt"))
      .filter(col("__cnt") === 1 && col("display_name").isNotNull)
      .drop("__cnt")
    val matched = attached.filter(col("source_id").isNotNull)
    val unmatched = attached.filter(col("source_id").isNull)
      .drop("source_id", "is_oa_source")
      .join(broadcast(uniq), col("source_name") === col("display_name"), "left")
      .withColumn("source_id", col("__sid"))
      .withColumn("is_oa_source", col("__oa"))
      .drop("display_name", "__sid", "__oa")
    matched.unionByName(unmatched)
  }

  /** Manual cascade over still-unmatched rows (the rules themselves
    * are shared with the matcher). */
  def manualFallback(attached: DataFrame): Column =
    coalesce(col("source_id"), SourceMatcher.manualRules)

  /** Full cascade: primary tiers → display-name fallback → manual
    * rules. Output = locations + (source_id, is_oa_source). */
  def attachSources(locations: DataFrame, sources: DataFrame,
      endpointToSource: DataFrame,
      excluded: Seq[Long] = defaultExcludedIds): DataFrame = {
    val primary = attachPrimary(locations, sources, endpointToSource, excluded)
    val withNames = displayNameFallback(primary, sources)
    withNames.withColumn("source_id", manualFallback(withNames))
  }

  // ── Post-CTAS passes (CreateLocationsWithSources.ipynb cells 3-7) ──

  /** Cell 3: add `normalized_source_name` and, for book-raw-typed rows
    * with a publisher, `normalized_book_publisher`. */
  def withNormalizedColumns(attached: DataFrame): DataFrame =
    attached
      .withColumn("normalized_source_name", normalizedName(col("source_name")))
      .withColumn("normalized_book_publisher",
        when(lower(col("raw_type")).isin(bookRawTypes: _*) &&
          col("publisher").isNotNull, normalizedName(col("publisher"))))

  /** Cell 5 MERGE: 'ebook platform' registry rows whose NORMALIZED
    * publisher is unique fill still-unmatched book-typed locations by
    * normalized publisher. Only source_id is set (the reference MERGE
    * leaves is_oa_source untouched). */
  def ebookPublisherFill(attached: DataFrame, sources: DataFrame): DataFrame = {
    val idx = sources
      .filter(col("type") === "ebook platform" && col("publisher").isNotNull &&
        col("merge_into_id").isNull)
      .select(col("id").as("__bp_sid"),
        normalizedName(col("publisher")).as("__np"))
      .groupBy(col("__np"))
      .agg(max(col("__bp_sid")).as("__bp_sid"), count(lit(1)).as("__cnt"))
      .filter(col("__cnt") === 1).drop("__cnt")
    attached.join(broadcast(idx),
        col("source_id").isNull && col("normalized_book_publisher").isNotNull &&
          col("normalized_book_publisher") === col("__np"), "left")
      .withColumn("source_id", coalesce(col("source_id"), col("__bp_sid")))
      .drop("__np", "__bp_sid")
  }

  /** Cell 7 MERGE — the final fallback: registry rows whose NORMALIZED
    * display_name is unique (merge redirects out, cell-7 exclusion list
    * applied) fill still-unmatched locations by normalized source name.
    * Two display names that collide after normalization count as 2 and
    * are dropped by the uniqueness gate. Only source_id is set. */
  def normalizedDisplayNameFill(attached: DataFrame, sources: DataFrame): DataFrame = {
    val idx = sources
      .filter(col("merge_into_id").isNull &&
        !col("id").isin(normalizedFallbackExcludedIds: _*))
      .select(col("id").as("__nd_sid"),
        normalizedName(col("display_name")).as("__nn"))
      .groupBy(col("__nn"))
      .agg(max(col("__nd_sid")).as("__nd_sid"), count(lit(1)).as("__cnt"))
      .filter(col("__cnt") === 1 && col("__nn").isNotNull).drop("__cnt")
    attached.join(broadcast(idx),
        col("source_id").isNull && col("normalized_source_name") === col("__nn"),
        "left")
      .withColumn("source_id", coalesce(col("source_id"), col("__nd_sid")))
      .drop("__nn", "__nd_sid")
  }

  /** CTAS + the three post-CTAS passes in notebook order: normalized
    * columns (cell 3) → ebook-platform publisher match (cell 5) →
    * normalized display-name final fallback (cell 7). `locations` must
    * additionally carry `raw_type` and `publisher`. */
  def attachSourcesFull(locations: DataFrame, sources: DataFrame,
      endpointToSource: DataFrame,
      excluded: Seq[Long] = defaultExcludedIds): DataFrame = {
    val ctas = attachSources(locations, sources, endpointToSource, excluded)
    normalizedDisplayNameFill(
      ebookPublisherFill(withNormalizedColumns(ctas), sources), sources)
  }
}
