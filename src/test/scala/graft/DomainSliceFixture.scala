package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.CrossrefParser
import graft.resolve.WorkIdResolver
import graft.serve.{Guardrails, SnapshotDocs, SnapshotSmoke}
import graft.works.{TypeRules, WorksBase}

/** The walden-domain slice (SURVEY §7.2) composed over hand-typed
  * records, for DomainSliceSpec: raw multi-source records → parse →
  * merge key → work-id resolution (adoption + minting) → survivorship
  * → type classification → location, affiliation and SDG enrichment →
  * the nightly tail (curations, references, fulltext, registry sync,
  * API builds, awards, snapshot docs, guardrails and smoke verdicts).
  */
object DomainSliceFixture {

  /** Fixture records → parsed+keyed walden rows → resolved work ids
    * (adoption via the doi map + minting). Returns (walden, resolved). */
  def resolved(spark: SparkSession): (DataFrame, DataFrame) = {
    val s = spark; import s.implicits._
    val raw = spark.read.json(Seq(
      """{"doi":"10.9/alpha","title":["The Alpha Paper On Spark Engines"],"author":[{"given":"Jo","family":"Smith","orcid":"https://orcid.org/0000-0002-1825-0097","affiliation":[{"name":"MIT"}],"sequence":"first"}],"issued":{"date_parts":[[2023,4]]},"type":"journal-article","license":[{"url":"https://creativecommons.org/licenses/by/4.0"}],"container_title":["J Spark"],"publisher":"P","abstract":"a1","updated":"2024-01-02 00:00:00"}""",
      """{"doi":"10.9/alpha","title":["The Alpha Paper On Spark Engines"],"author":[{"given":"Jo","family":"Smith","affiliation":[],"sequence":"first"}],"issued":{"date_parts":[[2023]]},"type":"journal-article","container_title":["J Spark"],"publisher":"P","abstract":"a1-longer-version","updated":"2024-02-02 00:00:00"}""",
      """{"doi":"10.9/beta","title":["The Beta Paper About Dedup Methods"],"author":[{"given":"Kim","family":"Lee","affiliation":[],"sequence":"first"}],"issued":{"date_parts":[[2024,1,5]]},"type":"letter","updated":"2024-03-01 00:00:00"}""").toDS())
    val walden = CrossrefParser.withMergeKey(CrossrefParser.parse(raw))
    val idMap = Seq(("doi", "10.9/alpha", 6600000001L))
      .toDF("key_type", "key", "work_id")
    (walden, WorkIdResolver.resolve(walden, idMap))
  }

  /** The composed round-6 path over the resolved rows, in DAG order:
    * SuperLocations best-URL attach → location shaping → the FULL
    * SourceMatcher cascade (ISSN tier, display-name fallbacks, and the
    * post-CTAS ebook-publisher + normalized-name passes). The alpha
    * rows attach through the ISSN tier, the beta row (book raw type,
    * unmatched name) through the ebook-platform publisher MERGE, and
    * the standalone punctuated-name row only after normalization. */
  def locations(spark: SparkSession, resolved: DataFrame): DataFrame = {
    val s = spark; import s.implicits._
    import graft.resolve.{SourceMatcher, SuperLocations}
    val scraped = Seq(
      ("https://publisher.example.org/alpha", "10.9/alpha", "2024-03-01"),
      ("https://mirror.example.net/alpha", "10.9/alpha", "2024-02-01"),
      ("https://mirror.example.net/beta.pdf", "10.9/beta", "2024-03-02"))
      .toDF("native_id", "doi", "updated_date")
      .withColumn("provenance", lit("landing_page"))
      .withColumn("ids", array(struct(col("doi").as("id"),
        lit("doi").as("namespace"), lit("self").as("relationship"))))
      .withColumn("updated_date", col("updated_date").cast("timestamp"))
      .drop("doi")
    val withUrls = SuperLocations.attachBestUrls(
      resolved.select(col("native_id"), col("provenance"), col("ids"),
        col("source_name"), col("publisher"), col("type")),
      scraped, "doi", Seq("publisher.example.org"))
    val emptyIds = array().cast(
      "array<struct<id:string,namespace:string,relationship:string>>")
    val locations = withUrls.select(col("native_id"), col("provenance"),
        concat(col("ids"), when(col("source_name") === "J Spark",
          array(struct(lit("1234-5678").as("id"), lit("eissn").as("namespace"),
            lit("self").as("relationship")))).otherwise(emptyIds)).as("ids"),
        lit(null).cast("string").as("endpoint_id"),
        coalesce(col("source_name"), lit("Unknown Collection"))
          .as("source_name"),
        when(col("native_id") === "10.9/beta", lit("Beta-Press!"))
          .otherwise(col("publisher")).as("publisher"),
        when(col("native_id") === "10.9/beta", lit("monograph"))
          .otherwise(col("type")).as("raw_type"),
        col("landing_page_url"), lit(null).cast("string").as("pdf_url"),
        col("native_id").as("best_doi"))
      .unionByName(Seq(("L-gamma", "landing_page", "J. Spark!"))
        .toDF("native_id", "provenance", "source_name")
        .withColumn("ids", emptyIds)
        .withColumn("endpoint_id", lit(null).cast("string"))
        .withColumn("publisher", lit(null).cast("string"))
        .withColumn("raw_type", lit(null).cast("string"))
        .withColumn("landing_page_url", lit(null).cast("string"))
        .withColumn("pdf_url", lit(null).cast("string"))
        .withColumn("best_doi", lit(null).cast("string")),
        allowMissingColumns = false)
    val sources = Seq(
      (9001L, "J Spark", Seq("1234-5678"), "journal",
        Option.empty[String], true),
      (9002L, "Beta Books", Seq.empty[String], "ebook platform",
        Option("Beta Press"), false))
      .toDF("id", "display_name", "issns", "type", "publisher", "is_oa")
      .withColumn("merge_into_id", lit(null).cast("long"))
      .withColumn("datacite_ids", lit(null).cast("array<string>"))
    val endpointToSource = Seq.empty[(String, Long)]
      .toDF("endpoint_id", "source_id")
    SourceMatcher.attachSourcesFull(locations, sources, endpointToSource)
  }

  /** Survivorship + the full type cascade over the resolved rows. */
  def typed(spark: SparkSession, resolved: DataFrame): DataFrame = {
    val prio = when(col("provenance") === "crossref", 1).otherwise(9)
    val best = WorksBase.survivorship(
      resolved.withColumn("native_num", xxhash64(col("native_id"))),
      "work_id", prio, col("updated_date"), col("native_num"),
      Seq("title", "abstract", "type", "published_date"))
    val forTyping = best
      .withColumn("raw_type", col("type"))
      .withColumn("cr_type", col("type"))
      .withColumn("cr_subtype", lit(null).cast("string"))
      .withColumn("source_name", lit("J Spark"))
      .withColumn("cr_container", lit(null).cast("string"))
      .withColumn("issue", lit(null).cast("string"))
      .withColumn("first_page", lit(null).cast("string"))
      .withColumn("n_refs", lit(0))
      .withColumn("single_page", lit(false))
      .withColumn("has_abstract", col("abstract").isNotNull)
      .withColumn("is_retracted", lit(false))
      .withColumn("oa_type", lit(null).cast("string"))
      .withColumn("page_title", lit(null).cast("string"))
      .withColumn("resolved_url", lit(null).cast("string"))
      .withColumn("meta", lit(null).cast("array<string>"))
      .withColumn("doi", lit(null).cast("string"))
      .withColumn("source_type", lit("journal"))
      .withColumn("has_journal", lit(true))
      .withColumn("provenance", lit("crossref"))
      // crossref ingest normalizes its type enum to the API vocabulary
      // before classification (journal-article → article)
      .withColumn("ingest_type",
        when(col("type") === "journal-article", "article")
          .otherwise(col("type")))
      .withColumn("preprint_registrant", lit(false))
    TypeRules.finalType(TypeRules.features(forTyping))
      .withColumn("work_type", col("type"))
  }

  /** Affiliation matcher + refinement cascade over the resolved
    * authorships — returns (matcher output, refined). */
  def affiliations(spark: SparkSession, resolved: DataFrame): (DataFrame, DataFrame) = {
    val sess = spark; import sess.implicits._
    val affils = resolved.select(col("work_id"),
        posexplode(col("authors")).as(Seq("author_seq", "a")))
      .select(col("work_id"), col("author_seq"),
        coalesce(try_element_at(transform(col("a.affiliations"),
          x => x.getField("name")), lit(1)), lit("")).as("affiliation_string"))
    val rules = Seq((42L, "mit", "mit", true,
      Option.empty[String], Option.empty[String]))
      .toDF("institution_id", "block_token", "pattern", "word", "require", "exclude")
    val insts = graft.entities.AffiliationMatcher.matchInstitutions(affils, rules)
    val refined = graft.entities.AffiliationRefine.refine(
      insts.join(affils.groupBy(col("work_id"), col("author_seq"))
          .agg(first(col("affiliation_string")).as("affiliation_string")),
        Seq("work_id", "author_seq")))
    (insts, refined)
  }

  /** SDG frontfill → shape → merge source over the typed works. */
  def sdg(spark: SparkSession, typed: DataFrame): DataFrame = {
    val sess = spark; import sess.implicits._
    import graft.llm.SdgPipeline
    val sdgWorks = typed.select(col("work_id"), col("title"),
      col("abstract"), col("work_type"))
    val sdgInput = SdgPipeline.createFrontfillInput(sdgWorks,
      Seq.empty[Long].toDF("work_id"))
    val sdgRaw = sdgInput.select(col("work_id"), lit(3).as("goal"),
        lit(0.83).as("score"))
      .unionByName(sdgInput.select(col("work_id"), lit(13).as("goal"),
        lit(0.39).as("score")))
    val shaped2 = SdgPipeline.shapeOutput(sdgRaw)
      .withColumn("created_timestamp", lit("2024-03-01").cast("timestamp"))
    SdgPipeline.mergeSource(
      shaped2.limit(0).select(col("work_id"), col("sdg")), shaped2)
  }

  /** Every frame the composed nightly tail lands. */
  final case class NightlyOut(curated: DataFrame, references: DataFrame,
      fulltext: DataFrame, registry: DataFrame, worksEnriched: DataFrame,
      sourcesApi: DataFrame, publishersApi: DataFrame,
      institutionsApi: DataFrame, domainCounts: DataFrame,
      worksDocs: DataFrame, awardAliases: DataFrame, awards: DataFrame,
      smokeVerdicts: DataFrame, guardrails: Seq[Guardrails.Check])

  /** The round-7 tail of the nightly DAG in the reference's task order
    * (jobs/walden_end2end.yaml:141-296 + jobs/snapshot_full.yaml):
    * ApplyLocationCurations → parse_work_references → WorkFulltext →
    * ROR registry sync → works-enriched assembly → the Sources /
    * Publishers / Institutions API builds + the topic-hierarchy
    * rollup → the works snapshot doc → Guardrails + SnapshotSmoke
    * verdicts as the release gate. Every stage consumes REAL upstream
    * output of this slice (resolved works, attached locations, matched
    * authorships, refined institutions, SDG tags) — registries are the
    * only synthesized inputs, as in production. */
  def nightlyTail(spark: SparkSession, resolved: DataFrame,
      typed: DataFrame, attached: DataFrame, refined: DataFrame,
      sdgMerged: DataFrame): NightlyOut = {
    val s = spark; import s.implicits._
    import graft.entities.{InstitutionsApi, PublishersApi, RorTables, SourcesApi, TopicHierarchy}
    import graft.resolve.LocationCurations
    import graft.works.{WorkFulltext, WorkReferences}
    val OA = "https://openalex.org/"
    def nstr = lit(null).cast("string")
    // Each task of the reference DAG LANDS its output as a Delta table
    // before the next task reads it; the parquet Materialize boundary
    // is the same contract here — without it every multi-consumer
    // stage replays the whole upstream plan and analysis time explodes.
    def land(df: DataFrame): DataFrame = graft.core.Materialize.temp(df)._1

    // ── Apply_Location_Curations: locations_mapped shaped from the
    // SourceMatcher output; a curator replaces beta's pdf URL and
    // nulls gamma's landing page
    val mapped = attached.select(col("native_id"),
      lit("doi").as("native_id_namespace"),
      col("source_id"), col("source_name"), col("provenance"),
      col("landing_page_url"), col("pdf_url"),
      nstr.as("title"), nstr.as("license"),
      lit(null).cast("boolean").as("is_oa"), col("raw_type").as("type"),
      nstr.as("version"), nstr.as("language"), nstr.as("issue"),
      nstr.as("volume"), nstr.as("first_page"), nstr.as("last_page"),
      lit(null).cast("boolean").as("is_retracted"),
      when(col("landing_page_url").isNotNull, array(
        struct(col("landing_page_url").as("url"),
          lit("text/html").as("content_type")))).as("urls"),
      lit("2024-01-01").cast("timestamp").as("openalex_updated_dt"),
      col("best_doi"))
    val queue = Seq(
      ("10.9/beta", "doi", "pdf_url", "https://curated.example/beta.pdf",
        "2024-05-01"),
      ("10.9/beta", "doi", "title", "Curated Beta Title", "2024-05-02"),
      ("L-gamma", "doi", "landing_page_url", null, "2024-05-03"))
      .toDF("native_id", "native_id_namespace", "property",
        "property_value", "ts")
      .withColumn("moderated_ts", col("ts").cast("timestamp")).drop("ts")
    val curated = land(LocationCurations.applyOverrides(mapped,
      LocationCurations.fieldOverrides(queue)))

    // ── parse_work_references: each alpha location cites beta's DOI;
    // the id map is the resolver's (doi → work_id) output itself
    val workIds = resolved.select(col("native_id").as("__wdoi"),
      col("work_id")).distinct()
    val refLocs = curated.join(workIds, col("best_doi") === col("__wdoi"))
      .select(curated("native_id"), col("native_id_namespace"),
        col("work_id"), lit("crossref").as("provenance"),
        when(col("best_doi") === "10.9/alpha",
          array(struct(lit("10.9/beta").as("doi"), nstr.as("pmid"),
            nstr.as("arxiv"), nstr.as("title"), nstr.as("authors"),
            lit(null).cast("int").as("year"), nstr.as("raw"))))
          .as("references"))
    val refIdMap = workIds.select(col("__wdoi").as("doi"),
      nstr.as("pmid"), col("work_id").as("paper_id"),
      col("work_id").as("id"), nstr.as("title_author"))
    val exploded = WorkReferences.explodeRefs(refLocs)
    val references = land(WorkReferences.referencedWorks(
      WorkReferences.resolveByPmid(
        WorkReferences.resolveByDoi(
          WorkReferences.insertNew(exploded.limit(0), exploded), refIdMap),
        refIdMap)))

    // ── Works_Fulltext: the curated beta pdf is ingested and keys to
    // the beta work through its DOI
    val pdf = curated.filter(col("best_doi").isNotNull).select(
      array(struct(lit("doi").as("namespace"), col("best_doi").as("id")))
        .as("ids"),
      concat(lit("<p>Full text of </p> "), col("best_doi")).as("fulltext"),
      lit("2024-05-01").cast("timestamp").as("ingested_at"))
    val emptyKeys = Seq.empty[(String, String, String, Long, Long,
        java.sql.Timestamp, java.sql.Timestamp)]
      .toDF("key_type", "key", "fulltext", "fulltext_length", "raw_length",
        "src_ingested_at", "updated_at")
    val keys = WorkFulltext.mergeKeys(emptyKeys,
      WorkFulltext.keysDelta(pdf, emptyKeys),
      lit("2024-05-02").cast("timestamp"))
    val ftWorks = workIds.select(col("work_id").as("id"),
      concat(lit("https://doi.org/"), col("__wdoi")).as("doi"),
      lit(null).cast("array<struct<pmh_id:string>>").as("locations"))
    val ftMatched = WorkFulltext.matches(ftWorks, keys)
    val wf0 = emptyKeys.limit(0).select(col("key_type").as("match_type"),
      col("key"), col("fulltext"), col("raw_length"),
      col("updated_at"), lit(0L).as("work_id"))
    val fulltext = land(WorkFulltext.mergeWorkFulltext(wf0,
      WorkFulltext.fulltextDelta(ftMatched, wf0, keys),
      lit("2024-05-02").cast("timestamp")))

    // ── ROR registry sync: the dump carries MIT (known, newer) and a
    // brand-new lab; insert mints past the current max, update
    // re-applies fields
    val rorName = (v: String, t: String) =>
      struct(lit(v).as("value"), lit("en").as("lang"),
        array(lit(t)).as("types"))
    val rorLoc = struct(lit(101L).as("geonames_id"),
      struct(lit("US").as("country_code"), lit(42.36).as("lat"),
        lit(-71.09).as("lng"), lit("Cambridge").as("name"),
        lit("MA").as("country_subdivision_name"),
        lit("United States").as("country_name")).as("geonames_details"))
    val ror = Seq(("https://ror.org/042nb2s44", "active", "2024-04-01"),
        ("https://ror.org/05newlab1", "active", "2024-04-01"))
      .toDF("id", "status", "ud")
      .withColumn("updated_date", col("ud").cast("timestamp")).drop("ud")
      .withColumn("names", when(col("id").endsWith("042nb2s44"),
          array(rorName("MIT", "ror_display"), rorName("M.I.T.", "alias"),
            rorName("Massachusetts Institute of Technology", "label")))
        .otherwise(array(rorName("New Lab", "ror_display"),
          rorName("NL", "acronym"))))
      .withColumn("types", array(lit("education")))
      .withColumn("links", array(struct(lit("website").as("type"),
        concat(lit("https://site/"), col("id")).as("value"))))
      .withColumn("external_ids", array(struct(lit("wikidata").as("type"),
        lit("Q49108").as("preferred"))))
      .withColumn("relationships", when(col("id").endsWith("042nb2s44"),
        array(struct(lit("https://ror.org/05newlab1").as("id"),
          lit("related").as("type")))))
      .withColumn("locations", array(rorLoc))
    val institutions0 = Seq((42L, "https://ror.org/042nb2s44", "MIT"))
      .toDF("id", "ror_id", "display_name")
      .withColumn("official_page", nstr).withColumn("wiki_page", nstr)
      .withColumn("iso3166_code", lit("US"))
      .withColumn("latitude", lit(null).cast("double"))
      .withColumn("longitude", lit(null).cast("double"))
      .withColumn("grid_id", nstr).withColumn("wikidata_id", nstr)
      .withColumn("merge_into_id", lit(null).cast("long"))
      .withColumn("city", nstr).withColumn("region", nstr)
      .withColumn("country", nstr)
      .withColumn("geonames_city_id", lit(null).cast("long"))
      .withColumn("image_url", nstr)
      .withColumn("image_thumbnail_url", nstr)
      .withColumn("merge_into_date", lit(null).cast("timestamp"))
      .withColumn("created_date", lit("2020-01-01").cast("timestamp"))
      .withColumn("updated_date", lit("2023-01-01").cast("timestamp"))
      .withColumn("type", lit("education"))
      .withColumn("display_name_acronyms", array().cast("array<string>"))
      .withColumn("display_name_alternatives", array().cast("array<string>"))
    val inserted = RorTables.insertNewFromRor(ror, institutions0,
      lit("2024-05-01").cast("timestamp"))
    val registry = land(RorTables.updateFromRor(institutions0, ror,
        lit("2024-05-01").cast("timestamp"))
      .unionByName(inserted, allowMissingColumns = true))

    // ── works-enriched assembly (CreateWorksEnriched shape): typed
    // works + matched-author institutions + references + fulltext +
    // SDG tags + curated locations, in the worksDoc input contract
    val instIds = refined.filter(!array_contains(col("institution_ids"), -1L))
      .select(col("work_id"), col("author_seq"),
        col("institution_ids").as("__inst_ids"))
    val auths = resolved
      .select(col("work_id"),
        posexplode(col("authors")).as(Seq("author_seq", "__a")))
      .join(instIds, Seq("work_id", "author_seq"), "left")
      .groupBy(col("work_id"))
      .agg(array_sort(collect_list(struct(col("author_seq"), struct(
        struct(col("__a.author_key").as("id")).as("author"),
        when(col("author_seq") === 0, "first").otherwise("middle")
          .as("author_position"),
        array().cast("array<struct<name:string>>").as("affiliations"),
        array(lit("US")).as("countries"),
        col("__a.name").as("raw_author_name"),
        col("__a.orcid").as("raw_orcid"),
        lit(false).as("is_corresponding"),
        transform(col("__a.affiliations"), x => x.getField("name"))
          .as("raw_affiliation_strings"),
        coalesce(transform(col("__inst_ids"),
            x => struct(concat(lit(OA + "I"), x).as("id"))),
          array().cast("array<struct<id:string>>")).as("institutions"))
        .as("au")))).as("__aus"))
      .select(col("work_id"),
        transform(col("__aus"), x => x.getField("au")).as("authorships"))
    val locStruct = struct(col("native_id"),
      struct(concat(lit(OA + "S"), col("source_id")).as("id"),
        col("source_name").as("display_name"), lit(false).as("is_in_doaj"),
        concat(lit(OA + "P"), col("source_id") - 9000).as("host_organization"))
        .as("source"),
      lit(true).as("is_oa"), lit("publishedVersion").as("version"),
      col("landing_page_url"), col("pdf_url"),
      col("source_name").as("raw_source_name"), col("type").as("raw_type"),
      col("provenance"), nstr.as("license"),
      lit(null).cast("long").as("license_id"), lit(true).as("is_accepted"))
    val workLocs = curated.join(workIds, col("best_doi") === col("__wdoi"))
      .select(col("work_id"), locStruct.as("__loc"))
      .groupBy(col("work_id"))
      .agg(collect_list(col("__loc")).as("locations"),
        min_by(col("__loc"), col("__loc.native_id")).as("primary_location"))
    val citedCounts = references
      .select(explode(col("referenced_works")).as("cited"))
      .groupBy(col("cited")).agg(count(lit(1)).as("__cites"))
    // primary_topic carries the URL-struct hierarchy (TopicHierarchy
    // contract); the topics list carries the flat API shape
    // (SourcesApi.topicsAndShare contract)
    val topicStruct = struct(lit(OA + "T10101").as("id"),
      lit("Demo Topic").as("display_name"),
      struct(lit(OA + "subfields/1010").as("id")).as("subfield"),
      struct(lit(OA + "fields/10").as("id")).as("field"),
      struct(lit(OA + "domains/1").as("id")).as("domain"))
    val topicFlat = struct(lit("T10101").as("id"),
      lit("Demo Topic").as("display_name"), lit("SF1010").as("subfield"),
      lit("F10").as("field"), lit("D1").as("domain"), lit(0.9).as("score"))

    // ── work→funder junction legs (CreateWorksEnriched cell 17's
    // from_crossref + from_funder_reported arms): the crossref
    // junction resolves the registry DOI off the curated locations'
    // funder assertions (doi-less assertions drop, unregistered DOIs
    // drop at the inner join, the shell award spelling rides along),
    // and the Hakai-style OUTPUT-LIST edges arrive through the shared
    // funder_reported_work_funders union — both roll into the
    // enriched works' funders array exactly as the reference merges
    // them, gated below by a funders ⊆ registry referential check.
    import graft.awards.{FunderReportedOutputs, WorkFunders}
    val funderDim = Seq(
      (8651541334L, "Det Norske Videnskaps-Akademi",
        "https://ror.org/03kw54a66", "10.13039/501100023037"),
      (4391743520L, "Hakai Institute", "https://ror.org/00fx2mx93",
        "10.13039/100014553"))
      .toDF("funder_id", "display_name", "ror_id", "doi")
      .withColumn("merge_into_id", lit(null).cast("long"))
    val crossrefLocFunders = curated
      .join(workIds, col("best_doi") === col("__wdoi"))
      .select(col("work_id"), col("provenance"),
        when(col("best_doi") === "10.9/alpha", array(
          struct(lit("10.13039/501100023037").as("doi"),
            array(lit("ABEL / 2022 / DEMO")).as("awards")),
          // a doi-less assertion: dropped (no name fallback)
          struct(nstr.as("doi"), array(lit("x")).as("awards"))))
        .otherwise(array(
          // a DOI absent from the registry: inner-join drop
          struct(lit("10.13039/999999999").as("doi"),
            array(lit("B-1")).as("awards")))).as("funders"))
    val crossrefJunction = WorkFunders.crossrefWorkFunders(
      crossrefLocFunders, funderDim)
    val hakaiOutputs = Seq(("10.9/beta", 4391743520L, "hakai_publications"))
      .toDF("doi", "funder_id", "provenance")
    val funderReported = FunderReportedOutputs.funderReportedUnion(Seq(
      (FunderReportedOutputs.outputListEdges(hakaiOutputs,
        workIds.select(col("work_id").as("id"), col("__wdoi").as("doi"))),
        None)))
    val funderEdges = crossrefJunction
      .select(col("work_id"), col("funder_id"))
      .unionByName(funderReported.select(col("work_id"), col("funder_id")))
    val rolledFunders = funderEdges
      .join(broadcast(funderDim), Seq("funder_id"))
      .select(col("work_id"),
        concat(lit(OA + "F"), col("funder_id")).as("fid"),
        col("ror_id").as("ror"), col("display_name"))
      .groupBy(col("work_id"), col("fid"))
      .agg(max(col("display_name")).as("display_name"),
        max(col("ror")).as("ror"))
      .groupBy(col("work_id"))
      .agg(sort_array(collect_list(struct(col("fid").as("id"),
        col("display_name"), col("ror")))).as("__funders"))
      .withColumnRenamed("work_id", "__fwid")

    val worksEnriched = land(typed
      .join(auths, Seq("work_id"), "left")
      .join(workLocs, Seq("work_id"), "left")
      .join(citedCounts, col("work_id") === col("cited"), "left")
      .join(fulltext.select(col("work_id"), col("fulltext")),
        Seq("work_id"), "left")
      .join(references.withColumnRenamed("citing_work_id", "work_id"),
        Seq("work_id"), "left")
      .join(sdgMerged.select(col("work_id"),
        col("sdg").as("sustainable_development_goals")),
        Seq("work_id"), "left")
      .join(rolledFunders, col("work_id") === col("__fwid"), "left")
      .select(col("work_id").as("id"), col("title"), col("abstract"),
        lit("2024-01-01").as("created_date"),
        lit("2024-05-02").as("updated_date"),
        date_format(col("published_date"), "yyyy-MM-dd")
          .as("publication_date"),
        array(struct(lit(11L).as("id"), lit("wd11").as("wikidata"),
          lit("Demo Concept").as("display_name"), lit(0).as("level"),
          lit(0.9).as("score"))).as("concepts"),
        map(lit("openalex"), concat(lit("W"), col("work_id"))).as("ids"),
        concat(lit("10.9/"), col("work_id")).as("doi"),
        lit("en").as("language"), col("work_type").as("type"),
        coalesce(col("referenced_works"), array().cast("array<bigint>"))
          .cast("array<string>").as("referenced_works"),
        to_json(map(lit("demo"), array(lit(0))))
          .as("abstract_inverted_index"),
        struct(lit(true).as("is_oa"), lit("gold").as("oa_status"),
          lit(false).as("any_repository_has_fulltext"),
          nstr.as("oa_url")).as("open_access"),
        col("authorships"), col("locations"), col("primary_location"),
        col("primary_location").as("best_oa_location"), col("fulltext"),
        coalesce(size(col("authorships")), lit(0)).as("authors_count"),
        array().cast("array<bigint>").as("corresponding_author_ids"),
        array().cast("array<bigint>").as("corresponding_institution_ids"),
        topicStruct.as("primary_topic"), array(topicFlat).as("topics"),
        array(lit("spark"), lit("engines")).as("keywords"),
        coalesce(size(col("locations")), lit(0)).as("locations_count"),
        col("sustainable_development_goals"),
        array().cast("array<string>").as("awards"),
        coalesce(col("__funders"), array().cast(
          "array<struct<id:string,display_name:string,ror:string>>"))
          .as("funders"),
        array().cast("array<bigint>").as("institutions"),
        lit(1).as("countries_distinct_count"),
        lit(1).as("institutions_distinct_count"),
        lit(false).as("is_paratext"), lit(false).as("is_retracted"),
        lit(false).as("is_xpac"),
        struct(lit("1").as("volume")).as("biblio"),
        array().cast("array<string>").as("related_works"),
        coalesce(col("__cites"), lit(0L)).as("cited_by_count"),
        array(struct(lit(2024).as("year"),
          coalesce(col("__cites"), lit(0L)).as("cited_by_count")))
          .as("counts_by_year"),
        lit(null).cast("struct<value:bigint>").as("apc_list"),
        lit(null).cast("struct<value:bigint>").as("apc_paid"),
        lit(1.0).as("fwci"),
        struct(lit(0.5).as("value")).as("citation_normalized_percentile"),
        struct(lit(0).as("min"), lit(1).as("max"))
          .as("cited_by_percentile_year"),
        array().cast("array<string>").as("mesh"),
        col("fulltext").isNotNull.as("has_content"),
        year(col("published_date")).as("publication_year")))

    // ── API entity builds over the enriched works
    val sourcesReg = Seq(
      (9001L, "J Spark", 42L, 1L, "journal"),
      (9002L, "Beta Books", 42L, 2L, "ebook platform"))
      .toDF("id", "display_name", "institution_id", "publisher_id", "type")
      .withColumn("merge_into_id", lit(null).cast("long"))
      .withColumn("issn_l", nstr)
      .withColumn("issns", array().cast("array<string>"))
      .withColumn("wikidata_id", nstr)
      .withColumn("is_in_doaj", lit(false))
      .withColumn("is_in_doaj_start_year", lit(null).cast("int"))
      .withColumn("is_oa_high_oa_rate", lit(false))
      .withColumn("high_oa_rate_start_year", lit(null).cast("int"))
      .withColumn("is_in_scielo", lit(false))
      .withColumn("is_ojs", lit(false))
      .withColumn("is_core", lit(false))
      .withColumn("is_preprint_repository", lit(false))
      .withColumn("is_oa", lit(false))
      .withColumn("webpage", nstr)
      .withColumn("apc_prices",
        array().cast("array<struct<price:int,currency:string>>"))
      .withColumn("apc_usd", lit(null).cast("int"))
      .withColumn("apc_usd_by_year",
        map().cast("map<string,int>"))
      .withColumn("country_code", lit("US"))
      .withColumn("societies",
        array().cast("array<struct<url:string,organization:string>>"))
      .withColumn("alternate_titles", array().cast("array<string>"))
    val metricsPre = Seq((9001L, 2023, 2024), (9002L, 2024, 2024))
      .toDF("id", "first_publication_year", "last_publication_year")
    val publishersReg = Seq((1L, "Spark Press"), (2L, "Beta Press"))
      .toDF("id", "display_name")
      .withColumn("alternate_titles", lit("[]"))
      .withColumn("country_codes", lit("""["US"]"""))
      .withColumn("hierarchy_level", lit(0))
      .withColumn("parent_publisher",
        lit(null).cast("struct<id:string,display_name:string>"))
      .withColumn("ror_id", nstr).withColumn("image_url", nstr)
      .withColumn("image_thumbnail_url", nstr)
      .withColumn("wikidata_id", nstr).withColumn("homepage_url", nstr)
      .withColumn("created_date", lit("2020-01-01").cast("timestamp"))
      .withColumn("merge_into_id", lit(null).cast("long"))
    val entityLinks = Seq(("I42", "P1")).toDF("id_1", "id_2")
    val entityCounts = Seq(("P1", 2), ("P2", 1))
      .toDF("entity_id", "works_count")
    val sourcesApi = SourcesApi.assemble(sourcesReg, metricsPre,
      registry.select(col("id"), col("display_name")),
      publishersReg.select(col("id"), col("display_name"),
        col("parent_publisher")),
      SourcesApi.worksBase(worksEnriched), recentYearMin = 2023)
    val publishersApi = PublishersApi.assemble(publishersReg,
      PublishersApi.workPairs(worksEnriched), entityLinks, entityCounts,
      recentYearMin = 2023, yearMax = 2025)
    val ancestors = registry.select(col("id").as("institution_id"),
      array(col("id")).as("lineage_ids"))
    val institutionsApi = InstitutionsApi.assemble(registry, ror,
      ancestors, superSystemIds = Nil,
      InstitutionsApi.worksBase(worksEnriched), entityLinks, entityCounts,
      sourcesReg.select(col("id"), col("display_name"),
        col("institution_id"), col("type"), col("merge_into_id")),
      RorTables.relationships(ror), RorTables.types(ror),
      RorTables.labels(ror).select(col("ror_id"), col("label")),
      RorTables.aliases(ror), recentYearMin = 2023)

    // ── topic-hierarchy rollup from the enriched works' primary topics
    val topicsMaster = Seq((10101, 1010, 10, 1))
      .toDF("topic_id", "subfield_id", "field_id", "domain_id")
    val domainCounts = TopicHierarchy.levelCounts(
      TopicHierarchy.primaryTopics(worksEnriched))

    // ── awards chain (the awards job of the nightly): the per-funder
    // ingest lands at its (provenance, priority) slice, CreateAwards
    // collapses a crossref shell spelling onto the minted award, and
    // the works' award edges aggregate onto the survivor through the
    // alias table
    import graft.awards.{AwardConsolidation, FunderIngest}
    val awardFunders = Seq((8651541334L, "Det Norske Videnskaps-Akademi",
      "https://ror.org/03kw54a66", "10.13039/501100023037"))
      .toDF("funder_id", "display_name", "ror_id", "doi")
    val abelRawDemo = Seq(
      ("2022-demo", 2022, "Demo Laureate", "D", "Laureate",
        Some("For demo work"), false, "1", "Demo Inst", "https://abel/1"),
      ("2004-shared", 2004, "Shared Laureate", "S", "Shared",
        Some("Shared year"), false, "1/2", "Other Inst", "https://abel/2"))
      .toDF("slug", "year", "laureate_name", "given_name", "family_name",
        "citation", "declined", "portion", "institution", "source_url")
    val abelCfg = FunderIngest.abelPrize
    val minted = land(FunderIngest.transform(abelRawDemo, awardFunders,
      abelCfg, lit("2024-05-02 12:00:00").cast("timestamp")))
    // a deposited shell citing the 2022 prize in a different spelling —
    // same generic key ('abel2022demo'), so the consolidation collapses
    // it onto the direct-ingest award
    val shell = minted.filter(col("funder_award_id") === "abel-2022-demo")
      .withColumn("id", col("id") + 1)
      .withColumn("display_name", nstr)
      .withColumn("funder_award_id", lit("ABEL / 2022 / DEMO"))
      .withColumn("end_year", lit(null).cast("int"))
      .withColumn("provenance", lit("crossref_work_funders"))
      .withColumn("priority", lit(0))
    val awardsRaw = land(FunderIngest.landRaw(shell, minted, abelCfg))
    val awardAliases = AwardConsolidation.idAliases(awardsRaw)
    // every enriched work deposits the SHELL spelling — funded_outputs
    // must land on the surviving minted award via the alias
    val awardEdges = worksEnriched.select(col("id"))
      .crossJoin(broadcast(shell.select(col("id").as("__sid"))))
      .select(col("id"), array(struct(
        concat(lit(OA + "G"), col("__sid").cast("string")).as("id")))
        .as("awards"))
    val emptyTopics = minted.limit(0).select(col("id").as("award_id"),
      lit(null).cast("array<struct<id:string,score:double>>").as("topics"))
    val awards = land(AwardConsolidation.consolidate(awardsRaw, awardEdges,
      emptyTopics, currentYear = 2026))

    // ── exports: the snapshot works doc + smoke + guardrails gate
    val worksDocs = land(SnapshotDocs.worksDoc(worksEnriched))
    val report = SnapshotSmoke.idFormatBad(worksDocs, "works", "W")
      .unionByName(SnapshotSmoke.duplicateIds(worksDocs, "works"))
      .unionByName(SnapshotSmoke.nullCounts(worksDocs, "works",
        Seq("id", "display_name")))
      .unionByName(SnapshotSmoke.authorshipStats(worksDocs,
        recentYearMin = 2020))
      .unionByName(SnapshotSmoke.populationRates(worksDocs))
      .unionByName(SnapshotSmoke.abstractValidity(worksDocs))
    val smokeVerdicts = SnapshotSmoke.withVerdicts(report,
      requiredNullFields = Seq("id", "display_name"),
      mostlyNullFields = Nil)
    // the reference's NINE-check gate with baselines frozen to this
    // corpus (Guardrails.ipynb cells 4-10), plus referential spot
    // checks over the composed outputs
    val baselines = Guardrails.WorksBaselines(affiliationStrings = 1,
      institutionIds = 1, abstractsAny = 2, abstractsInverted = 2,
      fulltext = 2, worksCount = 2, citations = 1)
    val checks = Guardrails.worksGuardrails(worksEnriched, baselines,
      now = lit("2024-05-02 12:00:00").cast("timestamp"),
      maxChanged = 10, maxLoss = 0) ++ Seq(
      Guardrails.referential(
        worksEnriched.select(explode(col("referenced_works")).as("__rw"))
          .select(col("__rw").cast("long").as("cited")),
        "cited", worksEnriched.select(col("id")), "id"),
      Guardrails.referential(
        TopicHierarchy.hierarchy(topicsMaster)
          .select(col("domain_id").as("d")), "d",
        topicsMaster.select(col("domain_id")), "domain_id"),
      // consolidated awards' funded outputs point only at real works
      Guardrails.referential(
        awards.select(explode(col("funded_outputs")).as("__fw"))
          .select(regexp_replace(col("__fw"), "https://openalex\\.org/W", "")
            .cast("long").as("w")),
        "w", worksEnriched.select(col("id")), "id"),
      // the junction legs' funder edges point only at registry funders
      Guardrails.referential(funderEdges.select(col("funder_id")),
        "funder_id", funderDim.select(col("funder_id")), "funder_id"),
      // every funder edge surfaced in the enriched works' rolled array
      Guardrails.referential(funderEdges
          .join(broadcast(funderDim), Seq("funder_id"))
          .select(concat(col("work_id").cast("string"), lit(":"),
            lit(OA + "F"), col("funder_id")).as("edge")),
        "edge",
        worksEnriched.select(col("id"),
            explode(col("funders")).as("__fu"))
          .select(concat(col("id").cast("string"), lit(":"),
            col("__fu.id")).as("edge")), "edge"))
    NightlyOut(curated, references, fulltext, registry, worksEnriched,
      sourcesApi, publishersApi, institutionsApi, domainCounts,
      worksDocs, awardAliases, awards, smokeVerdicts, checks)
  }
}
