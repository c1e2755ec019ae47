package dagbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.authors.{AuthorMatcher, Authorships, WorkAuthorGuard}
import graft.awards.{PdfAwardTagger, WorkFunders}
import graft.core.{Incremental, Materialize, MergeInto}
import graft.entities.{AffiliationMatcher, AffiliationRefine, Authors, PublishersApi, SourcesApi}
import graft.functions.Normalize
import graft.ingest.{CrossrefParser, DataCiteParser, LandingPageParser, PubMedParser}
import graft.resolve.{MergeKeys, SourceMatcher, SuperLocations, UnionLocations, WorkIdResolver}
import graft.serve.{Guardrails, JdbcSink, SnapshotDocs, SnapshotWriter}
import graft.works.{CitationMetrics, TypeRules, WorkReferences, WorksBase}

/** One DAG run's landing directory and tracer. Every public layer call
  * goes through [[land]] (construct, then land with
  * `Materialize.parquet`, where the reference writes a Delta table) or
  * [[call]] (calls that return plain values). `calls` counts both: the
  * operations a run attempted. */
final class Ctx(val spark: SparkSession, val t: Tracer, val dir: String) {
  var calls = 0
  def layer[T](l: String)(body: => T): T = t.span(l, l)(body)
  def land(layer: String, call: String, name: String)(build: => DataFrame): DataFrame = {
    calls += 1
    t.span(call, layer) {
      val df = t.span("construct", layer)(build)
      t.span("land", layer)(Materialize.parquet(df, s"$dir/$name"))
    }
  }
  def call[T](layer: String, name: String)(body: => T): T = {
    calls += 1
    t.span(name, layer)(t.span("construct", layer)(body))
  }
}

/** Raw-feed schemas, as a reader of the landed JSON declares them. */
object Schemas {
  val crossref: String = "doi STRING, title ARRAY<STRING>, " +
    "author ARRAY<STRUCT<given: STRING, family: STRING, orcid: STRING, " +
    "affiliation: ARRAY<STRUCT<name: STRING>>, sequence: STRING>>, " +
    "issued STRUCT<date_parts: ARRAY<ARRAY<INT>>>, type STRING, " +
    "license ARRAY<STRUCT<url: STRING>>, container_title ARRAY<STRING>, " +
    "publisher STRING, abstract STRING, updated TIMESTAMP, " +
    "reference ARRAY<STRUCT<doi: STRING>>, " +
    "funder ARRAY<STRUCT<doi: STRING, awards: ARRAY<STRING>>>, issn ARRAY<STRING>"
  val datacite: String = "attributes STRUCT<doi: STRING, " +
    "titles: ARRAY<STRUCT<title: STRING>>, creators: ARRAY<STRUCT<givenName: STRING, " +
    "familyName: STRING, name: STRING, nameIdentifiers: ARRAY<STRUCT<" +
    "nameIdentifier: STRING, nameIdentifierScheme: STRING>>>>, publicationYear: INT, " +
    "types: STRUCT<resourceTypeGeneral: STRING>, rightsList: ARRAY<STRUCT<rightsUri: STRING>>, " +
    "descriptions: ARRAY<STRUCT<description: STRING, descriptionType: STRING>>, " +
    "publisher: STRING, updated: TIMESTAMP>"
  val landing: String = "url STRING, error_had BOOLEAN, " +
    "authors ARRAY<STRUCT<given: STRING, family: STRING, orcid: STRING>>, " +
    "is_corresponding ARRAY<BOOLEAN>, abstract STRING, license STRING, doi STRING, " +
    "pmh STRING, updated TIMESTAMP"
}

/** Where one corpus was landed, and what the generator planted in it. */
final case class Corpus(dir: String, truth: Map[String, Long]) {
  def path(n: String): String = s"$dir/$n"
}

/** The walden nightly: a full rebuild in the reference's DAG order. */
object Nightly {
  val RunDate = "2024-06-02"
  private val Now = lit(s"$RunDate 12:00:00").cast("timestamp")
  private val prio: Column = when(col("provenance") === "crossref", 1)
    .when(col("provenance") === "datacite", 2).otherwise(3)
  private val survivedFields = Seq("doi", "title", "abstract", "type",
    "published_date", "source_name", "publisher", "license", "authors", "is_oa")
  private val locationPayload = Seq("native_id", "provenance",
    "landing_page_url", "license", "source_name", "is_oa")
  // ── setup: generation and landing ────────────────────────────────

  /** Generate and land the raw feeds and registries of `sz.works`
    * works. Returns the corpus with its planted counts. */
  def landCorpus(spark: SparkSession, gen: Gen, sz: Sizes, dir: String): Corpus = {
    val ws = Materialize.parquet(gen.works(0, sz.works), s"$dir/gt_works")
    gen.crossrefFeed(ws).write.text(s"$dir/crossref")
    gen.dataciteRecord(ws.filter(col("primary") === "datacite")).write.text(s"$dir/datacite")
    gen.pubmedRecord(ws.filter(col("has_pubmed"))).write.text(s"$dir/pubmed")
    gen.landingRecord(ws).write.text(s"$dir/landing")
    gen.grobid(ws).write.parquet(s"$dir/grobid")
    gen.authorRegistry().write.parquet(s"$dir/reg_authors")
    gen.institutions().write.parquet(s"$dir/reg_institutions")
    gen.funders().write.parquet(s"$dir/reg_funders")
    val truth = Truth.of(ws,
      "works" -> count(lit(1)),
      "pubmed_records" -> count(when(col("has_pubmed"), 1)),
      "abstracts" -> count(col("abstract")),
      // only crossref deposits carry affiliation, reference and funder lists
      "affiliated_crossref" -> count(when(col("primary") === "crossref" &&
        col("affil") =!= "none", 1)),
      "institutions_crossref" -> count(when(col("primary") === "crossref" &&
        col("affil") === "matched", 1)),
      "raw_references" -> sum(when(col("primary") === "crossref", size(col("refs")))),
      "citations" -> sum(when(col("primary") === "crossref",
        size(gen.resolvedRefs(col("refs"))))),
      "landing_records" -> sum(col("n_landing")),
      "authorships" -> sum(size(col("authors"))),
      "funded_crossref" -> count(when(col("funder").isNotNull &&
        col("primary") === "crossref", 1)))
    Corpus(dir, truth)
  }

  private def parseAll(spark: SparkSession, c: Ctx, in: Corpus): Map[String, DataFrame] =
    c.layer("ingest") {
      def json(schema: String, n: String) = spark.read.schema(schema).json(in.path(n))
      Map(
        "crossref" -> c.land("ingest", "CrossrefParser.parse", "parsed_crossref")(
          CrossrefParser.withMergeKey(CrossrefParser.parse(json(Schemas.crossref, "crossref")))),
        "pubmed" -> c.land("ingest", "PubMedParser.parse", "parsed_pubmed")(
          PubMedParser.parse(spark.read.text(in.path("pubmed")).toDF("xml"))),
        "datacite" -> c.land("ingest", "DataCiteParser.parse", "parsed_datacite")(
          DataCiteParser.parse(json(Schemas.datacite, "datacite"))),
        "landing" -> c.land("ingest", "LandingPageParser.parse", "parsed_landing")(
          LandingPageParser.parse(json(Schemas.landing, "landing"))))
    }

  private def keyed(df: DataFrame): DataFrame =
    MergeKeys.filterKeyed(MergeKeys.withMergeKey(df))

  /** The id map the resolver adopts from: doi and title_author keys of
    * every mapped DOI location. */
  private def idMapOf(mapped: DataFrame): DataFrame =
    mapped.select(col("work_id"), explode(array(
        struct(lit("doi").as("key_type"), col("merge_key.doi").as("key")),
        struct(lit("title_author").as("key_type"),
          col("merge_key.title_author").as("key")))).as("k"))
      .filter(col("k.key").isNotNull)
      .select(col("k.key_type").as("key_type"), col("k.key").as("key"), col("work_id"))
      .distinct()

  /** Survivorship, then the type cascade (one landing: the survived
    * row has no other reader). TypeRules needs the full feature input;
    * fields the generator does not model are fixed (as the reference's
    * defaults). */
  private def typedWorks(c: Ctx, withDoi: DataFrame): DataFrame =
    c.land("works", "WorksBase.survivorship+TypeRules.finalType", "works_typed") {
      val forTyping = WorksBase.survivorship(withDoi, "work_id", prio, col("updated_date"),
          col("native_num"), survivedFields)
        .withColumn("raw_type", col("type")).withColumn("cr_type", col("type"))
        .withColumn("cr_subtype", lit(null).cast("string"))
        .withColumn("cr_container", lit(null).cast("string"))
        .withColumn("issue", lit(null).cast("string"))
        .withColumn("first_page", lit(null).cast("string"))
        .withColumn("n_refs", lit(0)).withColumn("single_page", lit(false))
        .withColumn("has_abstract", col("abstract").isNotNull)
        .withColumn("is_retracted", lit(false))
        .withColumn("oa_type", lit(null).cast("string"))
        .withColumn("page_title", lit(null).cast("string"))
        .withColumn("resolved_url", lit(null).cast("string"))
        .withColumn("meta", lit(null).cast("array<string>"))
        .withColumn("source_type", lit("journal")).withColumn("has_journal", lit(true))
        .withColumn("provenance", lit("crossref"))
        .withColumn("ingest_type", when(col("type") === "journal-article", "article")
          .otherwise(col("type")))
        .withColumn("preprint_registrant", lit(false))
      TypeRules.finalType(TypeRules.features(forTyping))
        .select(col("work_id"), col("doi"), col("title"), col("abstract"),
          col("type").as("work_type"), col("published_date"), col("source_name"),
          col("publisher"), col("license"), col("authors"), col("is_oa"))
    }

  private def docsJson(docs: DataFrame): DataFrame =
    docs.select(col("id"), to_json(struct(docs.columns.map(col).toIndexedSeq: _*)).as("json"))

  // ── nightly-full ──────────────────────────────────────────────────

  /** Full rebuild, in the reference's DAG order. Returns the landed
    * frames the checks read. */
  def full(c: Ctx, in: Corpus): Map[String, DataFrame] = {
    val spark = c.spark
    val feeds = parseAll(spark, c, in)
    val rawCr = spark.read.schema(Schemas.crossref).json(in.path("crossref"))
      .withColumn("native_id", Normalize.doi(col("doi")))

    val (locs, doiMapped, pmMapped, sourced) = c.layer("resolve") {
      val parsed = c.land("resolve", "UnionLocations", "locations_parsed")(
        UnionLocations(Seq(keyed(feeds("crossref")), keyed(feeds("datacite")))))
      // DOI feeds resolve first; PubMed rows then adopt by title_author
      // from the map those produced (they carry no DOI)
      val doiMapped = c.land("resolve", "WorkIdResolver.resolve", "mapped_doi")(
        WorkIdResolver.resolve(parsed, empty(spark, "key_type STRING, key STRING, work_id BIGINT")))
      val pmMapped = c.land("resolve", "WorkIdResolver.resolve", "mapped_pubmed")(
        WorkIdResolver.resolve(keyed(feeds("pubmed")), idMapOf(doiMapped)))
      val withUrls = c.land("resolve", "SuperLocations.attachBestUrls", "super_locations")(
        SuperLocations.attachBestUrls(doiMapped, feeds("landing"), "doi", Seq("example.org")))
      val sourced = c.land("resolve", "SourceMatcher.attachSourcesFull", "locations_sources") {
        val issn = rawCr.select(col("native_id").as("__n"),
          try_element_at(col("issn"), lit(1)).as("__issn")).distinct()
        SourceMatcher.attachSourcesFull(withUrls.join(issn, col("native_id") === col("__n"), "left")
          .select(col("native_id"), col("provenance"),
            concat(col("ids"), when(col("__issn").isNotNull, array(struct(
              col("__issn").as("id"), lit("eissn").as("namespace"),
              lit("self").as("relationship")))).otherwise(array().cast(
                "array<struct<id:string,namespace:string,relationship:string>>"))).as("ids"),
            lit(null).cast("string").as("endpoint_id"), col("source_name"), col("publisher"),
            col("type").as("raw_type"), col("landing_page_url"),
            lit(null).cast("string").as("pdf_url"), col("merge_key.doi").as("best_doi")),
          Registries.sources(spark), empty(spark, "endpoint_id STRING, source_id BIGINT"))
      }
      (withUrls.unionByName(pmMapped, allowMissingColumns = true), doiMapped, pmMapped, sourced)
    }
    val workOfNative = doiMapped.select(col("native_id"), col("work_id")).distinct()

    val (works, ranked, references, citations) = c.layer("works") {
      val withDoi = locs.withColumn("doi", col("merge_key.doi"))
        .withColumn("native_num", xxhash64(col("native_id")))
      val works = typedWorks(c, withDoi)
      val ranked = c.land("works", "WorksBase.rankedLocations", "works_locations")(
        WorksBase.rankedLocations(withDoi, "work_id", prio, col("updated_date"),
          locationPayload))
      val references = c.land("works", "WorkReferences", "work_references") {
        val refLocs = rawCr.join(workOfNative, Seq("native_id"))
          .select(col("native_id"), lit("doi").as("native_id_namespace"), col("work_id"),
            lit("crossref").as("provenance"),
            transform(col("reference"), r => struct(r.getField("doi").as("doi"),
              lit(null).cast("string").as("pmid"), lit(null).cast("string").as("arxiv"),
              lit(null).cast("string").as("title"), lit(null).cast("string").as("authors"),
              lit(null).cast("int").as("year"), lit(null).cast("string").as("raw")))
              .as("references"))
        val exploded = WorkReferences.explodeRefs(refLocs)
        // the work-id map: DOI rows, and the PMID rows without a DOI
        // that the PMID pass reads
        val refIdMap = doiMapped.select(col("merge_key.doi").as("doi"),
            lit(null).cast("string").as("pmid"), col("work_id").as("paper_id"),
            col("work_id").as("id"), lit(null).cast("string").as("title_author"))
          .unionByName(pmMapped.select(lit(null).cast("string").as("doi"),
            col("merge_key.pmid").as("pmid"), col("work_id").as("paper_id"),
            col("work_id").as("id"), lit(null).cast("string").as("title_author")))
        WorkReferences.referencedWorks(WorkReferences.resolveByPmid(
          WorkReferences.resolveByDoi(
            WorkReferences.insertNew(exploded.limit(0), exploded), refIdMap), refIdMap))
      }
      val citations = c.land("works", "CitationMetrics", "citation_metrics") {
        val years = works.select(col("work_id"), year(col("published_date")).as("pub_year"),
          col("work_type"))
        val edges = references.select(col("citing_work_id"),
            explode(col("referenced_works")).as("cited"))
          .join(years.select(col("work_id").as("citing_work_id"),
            col("pub_year").as("citing_year")), Seq("citing_work_id"))
        val counts = CitationMetrics.countsWithJson(
          CitationMetrics.countsByYear(edges, "cited", "citing_year"), "cited", "citing_year")
        val c3 = CitationMetrics.citations3y(years, "work_id", "pub_year", edges,
          "cited", "citing_year")
        CitationMetrics.percentile(CitationMetrics.fwci(c3, Seq("pub_year", "work_type")),
          Seq("pub_year", "work_type"), "work_id")
          .join(counts, col("work_id") === col("cited"), "left")
          .select(col("work_id"), coalesce(col("cited_by_count"), lit(0L)).as("cited_by_count"),
            col("counts_by_year"), col("c3"), col("fwci"), col("pctl"), col("is_top10"))
      }
      (works, ranked, references, citations)
    }

    val incoming = works.select(col("work_id"),
        posexplode(col("authors")).as(Seq("author_seq", "a")))
      .select(col("work_id"), col("author_seq"), col("a.author_key").as("block_key"),
        col("a.orcid").as("orcid"),
        transform(col("a.affiliations"), x => x.getField("name")).as("institution_ids"),
        lit(0L).as("source_id"), col("a.name").as("raw_name"),
        coalesce(col("a.is_corresponding"), lit(false)).as("is_corresponding"))
    val matched = c.layer("authors") {
      c.land("authors", "AuthorMatcher.matchAuthors", "authors_matched")(
        AuthorMatcher.matchAuthors(incoming, spark.read.parquet(in.path("reg_authors"))))
    }

    val insts = spark.read.parquet(in.path("reg_institutions"))
    val refined = c.layer("entities") {
      val affils = incoming.select(col("work_id"), col("author_seq"),
        coalesce(try_element_at(col("institution_ids"), lit(1)), lit("")).as("affiliation_string"))
      val rules = insts.select(col("institution_id"), col("token").as("block_token"),
        AffiliationMatcher.normalize(col("display_name")).as("pattern"),
        lit(true).as("word"), lit(null).cast("string").as("require"),
        lit(null).cast("string").as("exclude"))
      c.land("entities", "AffiliationMatcher.matchInstitutions+AffiliationRefine.refine",
          "affiliations_refined")(AffiliationRefine.refine(
        AffiliationMatcher.matchInstitutions(affils, rules)
          .join(affils, Seq("work_id", "author_seq"))))
    }

    val (authorships, guardBatch) = c.layer("authors") {
      val assembled = c.land("authors", "Authorships.assemble", "authorships")(Authorships.assemble(
        matched.join(refined.select(col("work_id"), col("author_seq"),
            filter(col("institution_ids"), x => x > 0).as("inst_ids")),
            Seq("work_id", "author_seq"), "left")
          .select(col("work_id"), col("author_seq"), col("author_id"), col("raw_name"),
            col("is_corresponding"), col("inst_ids").cast("array<string>")
              .as("institution_ids")),
        insts.select(col("institution_id").cast("string").as("institution_id"),
          col("display_name"), col("country_code"),
          array(col("institution_id").cast("string")).as("lineage"))))
      // a rebuild re-stamps every work and the seat table starts empty,
      // so every authorship is admitted into the affiliation batch
      val guardBatch = c.land("authors", "WorkAuthorGuard.updateBatch", "work_author_batch")(
        WorkAuthorGuard.updateBatch(worksForGuard(works.withColumn("updated_date", Now)),
          empty(spark, "work_id BIGINT, author_sequence INT, raw_author_name STRING, " +
            "raw_affiliation_strings ARRAY<STRING>"), lit("2024-05-15").cast("timestamp")))
      (assembled, guardBatch)
    }

    val funderReg = spark.read.parquet(in.path("reg_funders"))
    val (workFunders, awardMatches) = c.layer("awards") {
      val locFunders = rawCr.join(workOfNative, Seq("native_id"))
        .select(col("work_id"), lit("crossref").as("provenance"), col("funder").as("funders"))
      val wf = c.land("awards", "WorkFunders.crossrefWorkFunders", "work_funders")(
        WorkFunders.crossrefWorkFunders(locFunders, funderReg))
      val fundersApi = funderReg.select(col("funder_id").as("id"), col("display_name"),
        struct(col("ror_id").as("ror"), col("doi")).as("ids"),
        array().cast("array<string>").as("alternate_titles"))
      val fm = c.land("awards", "PdfAwardTagger.funderSections+funderMatches",
          "pdf_funder_matches")(PdfAwardTagger.funderMatches(
        PdfAwardTagger.funderSections(spark.read.parquet(in.path("grobid")),
          doiMapped.select(col("native_id"), col("native_id_namespace"), col("work_id")),
          lit("2000-01-01").cast("timestamp"), Now), PdfAwardTagger.funderRegexes(
          funderReg.select(col("display_name").as("name"),
            concat(lit("F"), col("funder_id")).as("id")), fundersApi)))
      val am = c.land("awards", "PdfAwardTagger.awardMatches", "pdf_award_matches")(
        PdfAwardTagger.awardMatches(fm, fundersApi, wf.select(col("funder_id"),
          explode(col("award_ids")).as("funder_award_id")).distinct()))
      (wf, am)
    }

    val enriched = c.layer("works") {
      c.land("works", "WorksEnriched", "works_enriched") {
        // landed, so the join below plans from its file size: left as a
        // plan, its size estimate is the product of its inputs' sizes,
        // and adaptive execution then shuffles the whole works row for
        // this join in some runs and broadcasts the rollup in others
        val rolled = Materialize.parquet(workFunders.join(broadcast(funderReg.select(
            col("funder_id"), col("display_name"), col("ror_id"))), Seq("funder_id"))
          .groupBy(col("work_id").as("__fwid"))
          .agg(sort_array(collect_list(struct(
            concat(lit("https://openalex.org/F"), col("funder_id")).as("id"),
            col("display_name"), col("ror_id").as("ror")))).as("__funders")),
          s"${c.dir}/works_funders_rolled")
        Enrich.worksEnriched(works, ranked,
          Enrich.Extras(authorships, citations, references, rolled), RunDate)
      }
    }

    val (sourcesApi, publishersApi, authorsEntity) = c.layer("entities") {
      val srcReg = Registries.sources(spark)
      val pubReg = Registries.publishers(spark)
      val sApi = c.land("entities", "SourcesApi.assemble", "sources_api")(
        SourcesApi.assemble(srcReg,
          srcReg.select(col("id"), lit(2012).as("first_publication_year"),
            lit(2024).as("last_publication_year")),
          insts.select(col("institution_id").as("id"), col("display_name")),
          pubReg.select(col("id"), col("display_name"), col("parent_publisher")),
          SourcesApi.worksBase(enriched), recentYearMin = 2022))
      val pApi = c.land("entities", "PublishersApi.assemble", "publishers_api")(
        PublishersApi.assemble(pubReg, PublishersApi.workPairs(enriched),
          spark.range(1).select(lit("I1000").as("id_1"), lit("P0").as("id_2")),
          spark.range(1).select(lit("P0").as("entity_id"), lit(1).as("works_count")),
          recentYearMin = 2022, yearMax = 2025))
      val awi = authorships.select(explode(col("authorships")).as("a"), col("work_id"))
        .select(col("a.author_id").as("author_id"), col("work_id"),
          explode_outer(col("a.institutions")).as("i"))
        .join(works.select(col("work_id"), year(col("published_date")).as("pub_year"),
          coalesce(col("is_oa"), lit(false)).as("is_oa")), Seq("work_id"))
        .join(citations.select(col("work_id"), col("cited_by_count").as("work_cited_by_count")),
          Seq("work_id"), "left")
        .select(col("author_id"), col("work_id"), col("pub_year"), col("is_oa"),
          coalesce(col("work_cited_by_count"), lit(0L)).as("work_cited_by_count"),
          col("i.id").cast("long").as("institution_id"))
      val aEnt = c.land("entities", "Authors", "authors_entity")(
        Authors.affiliations(awi)
          .join(Authors.lastKnownInstitution(awi), Seq("author_id"), "full_outer")
          .join(Authors.countsByYear(awi).groupBy(col("author_id"))
            .agg(sort_array(collect_list(struct(col("year"), col("works_count"),
              col("oa_works_count"), col("cited_by_count"))), asc = false)
              .as("counts_by_year")), Seq("author_id"), "full_outer"))
      (sApi, pApi, aEnt)
    }

    val (docs, changed, checks) = c.layer("serve") {
      val docs = c.land("serve", "SnapshotDocs.worksDoc", "works_docs")(
        SnapshotDocs.worksDoc(enriched))
      val changed = c.land("serve", "JdbcSink.changedDocs", "works_docs_changed")(
        JdbcSink.changedDocs(docsJson(docs), None, "id", "json"))
      c.call("serve", "SnapshotWriter.exportAllFormats")(
        SnapshotWriter.exportAllFormats(spark, docs, s"${c.dir}/snapshot", "works"))
      val t = in.truth
      val checks = c.call("serve", "Guardrails.worksGuardrails")(
        Guardrails.worksGuardrails(enriched, Guardrails.WorksBaselines(
          affiliationStrings = t("affiliated_crossref"),
          institutionIds = t("institutions_crossref"),
          abstractsAny = t("abstracts"), abstractsInverted = t("abstracts"), fulltext = 0,
          worksCount = t("works"), citations = t("citations")),
          now = Now, maxChanged = t("works"), maxLoss = 0))
      (docs, changed, checks)
    }

    // publish into the serving tables; a rebuild's prior state is empty
    // here, so every row is an insert and every updated_date is bumped
    val (served, stamped) = c.layer("core") {
      val served0 = empty(spark, "id STRING, doc_hash STRING, updated_date TIMESTAMP")
      val served = c.land("core", "Incremental.diff+MergeInto.run", "served_works") {
        val next = changed.select(col("id"), col("doc_hash"), Now.as("updated_date"))
        val changes = Incremental.diff(served0, next, Seq("id"), Seq("doc_hash"))
          .filter(col("_change_type") =!= "delete").select(col("id"))
        new MergeInto(served0, next.join(changes, Seq("id"), "left_semi"), Seq("id"))
          .whenMatchedUpdate(Map("doc_hash" -> col("__src.doc_hash"),
            "updated_date" -> col("__src.updated_date")),
            col("__tgt.doc_hash") =!= col("__src.doc_hash"))
          .whenNotMatchedInsert()
          .run()
      }
      val stamped = c.land("core", "Incremental.bumpUpdatedDate", "works_stamped")(
        Incremental.bumpUpdatedDate(works,
          empty(spark, "work_id BIGINT, content_hash BIGINT, updated_date TIMESTAMP"),
          Seq("work_id"), works.columns.filterNot(_ == "work_id").toIndexedSeq, Now))
      (served, stamped)
    }
    Map("mapped_doi" -> doiMapped, "mapped_pubmed" -> pmMapped, "sourced" -> sourced,
      "works" -> works,
      "references" -> references, "citations" -> citations, "matched" -> matched,
      "authorships" -> authorships, "award_matches" -> awardMatches,
      "work_funders" -> workFunders, "enriched" -> enriched, "sources_api" -> sourcesApi,
      "publishers_api" -> publishersApi, "authors_entity" -> authorsEntity,
      "docs" -> docs, "changed" -> changed, "guard_batch" -> guardBatch,
      "served" -> served, "stamped" -> stamped,
      "guardrails" -> spark.createDataFrame(checks.map(ch => (ch.name, ch.passed, ch.detail)))
        .toDF("name", "passed", "detail"))
  }

  private def empty(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  private def worksForGuard(works: DataFrame): DataFrame =
    works.select(col("work_id").as("id"), col("updated_date"),
      transform(col("authors"), a => struct(a.getField("name").as("raw_author_name"),
        coalesce(transform(a.getField("affiliations"), x => x.getField("name")),
          array().cast("array<string>")).as("raw_affiliation_strings"),
        coalesce(a.getField("is_corresponding"), lit(false)).as("is_corresponding")))
        .as("authorships"))

}

/** Source and publisher registries the entity builders join. */
object Registries {
  private def nstr = lit(null).cast("string")

  def sources(spark: SparkSession): DataFrame = {
    val name = element_at(typedLit(Vocab.journals), col("id").cast("int") + 1)
    spark.range(Vocab.journals.size).select(Enrich.sourceId(name).as("id"),
        name.as("display_name"), lit(1000L).as("institution_id"),
        Enrich.publisherId(name).as("publisher_id"), lit("journal").as("type"),
        array(concat(lit("1000-"), lpad(col("id").cast("string"), 4, "0"))).as("issns"),
        element_at(typedLit(Vocab.publishers), Enrich.publisherId(name).cast("int") + 1)
          .as("publisher"),
        lit(null).cast("array<string>").as("datacite_ids"))
      .withColumn("merge_into_id", lit(null).cast("long"))
      .withColumn("issn_l", nstr)
      .withColumn("wikidata_id", nstr).withColumn("is_in_doaj", lit(false))
      .withColumn("is_in_doaj_start_year", lit(null).cast("int"))
      .withColumn("is_oa_high_oa_rate", lit(false))
      .withColumn("high_oa_rate_start_year", lit(null).cast("int"))
      .withColumn("is_in_scielo", lit(false)).withColumn("is_ojs", lit(false))
      .withColumn("is_core", lit(false)).withColumn("is_preprint_repository", lit(false))
      .withColumn("is_oa", lit(false)).withColumn("webpage", nstr)
      .withColumn("apc_prices", array().cast("array<struct<price:int,currency:string>>"))
      .withColumn("apc_usd", lit(null).cast("int"))
      .withColumn("apc_usd_by_year", map().cast("map<string,int>"))
      .withColumn("country_code", lit("US"))
      .withColumn("societies", array().cast("array<struct<url:string,organization:string>>"))
      .withColumn("alternate_titles", array().cast("array<string>"))
  }

  def publishers(spark: SparkSession): DataFrame =
    spark.range(0, 20).select(col("id"),
        concat(lit("Publisher "), col("id").cast("string")).as("display_name"))
      .withColumn("alternate_titles", lit("[]"))
      .withColumn("country_codes", lit("""["US"]"""))
      .withColumn("hierarchy_level", lit(0))
      .withColumn("parent_publisher", lit(null).cast("struct<id:string,display_name:string>"))
      .withColumn("ror_id", nstr).withColumn("image_url", nstr)
      .withColumn("image_thumbnail_url", nstr)
      .withColumn("wikidata_id", nstr).withColumn("homepage_url", nstr)
      .withColumn("created_date", lit("2020-01-01").cast("timestamp"))
      .withColumn("merge_into_id", lit(null).cast("long"))
}
