package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.authors.AuthorMatcher
import graft.ingest.CrossrefParser
import graft.resolve.WorkIdResolver
import graft.serve.Guardrails
import graft.works.{TypeClassifier, WorksBase}

/** The walden-domain minimum slice (SURVEY §7.2) on FIXTURES.md-shaped
  * synthetic records: parse → merge key → id resolution → survivorship
  * → classification → author matching → guardrails → export. */
class DomainSliceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val rawCrossref = spark.read.json(Seq(
    """{"doi":"10.1234/A.1","title":["A Study Of Everything Important"],
      |"author":[{"given":"John","family":"Smith","orcid":"https://orcid.org/0000-0002-1825-0097",
      |"affiliation":[{"name":"MIT"}],"sequence":"first"},
      |{"given":"Ada","family":"Lovelace","affiliation":[],"sequence":"additional"}],
      |"issued":{"date_parts":[[2020]]},"type":"journal-article",
      |"license":[{"url":"https://creativecommons.org/licenses/by/4.0","content_version":"vor"}],
      |"container_title":["Journal of Things"],"publisher":"Pub Co",
      |"abstract":"An abstract.","updated":"2024-05-01 10:00:00"}""".stripMargin.replace("\n", ""),
    """{"doi":"10.1234/b.2","title":["Tiny"],"author":[],"issued":{"date_parts":[[2021,5]]},
      |"type":"journal-article","updated":"2024-05-02 10:00:00"}""".stripMargin.replace("\n", ""),
    """{"doi":"10.1234/c.3","title":["A Component That Should Be Dropped"],
      |"author":[],"issued":{"date_parts":[[2021]]},"type":"component",
      |"updated":"2024-05-03 10:00:00"}""".stripMargin.replace("\n", ""),
    """{"doi":"10.1234/d.4","title":["Dated With Month And Day Present"],
      |"author":[{"given":"Kim","family":"Lee","affiliation":[],"sequence":"first"}],
      |"issued":{"date_parts":[[2021,5,7]]},"type":"journal-article",
      |"updated":"2024-05-04 10:00:00"}""".stripMargin.replace("\n", "")).toDS())

  test("CrossrefParser: filters, date defaulting, author keys, normalization") {
    val w = CrossrefParser.parse(rawCrossref)
    val rows = w.collect().map(r => r.getAs[String]("native_id") -> r).toMap
    // 'Tiny' (title < 5 chars) and 'component' dropped
    assert(rows.keySet == Set("10.1234/a.1", "10.1234/d.4"))
    val a = rows("10.1234/a.1")
    assert(a.getAs[java.sql.Date]("published_date").toString == "2020-01-01")
    assert(rows("10.1234/d.4").getAs[java.sql.Date]("published_date").toString == "2021-05-07")
    val authors = a.getSeq[org.apache.spark.sql.Row](a.fieldIndex("authors"))
    assert(authors.head.getAs[String]("orcid") == "0000-0002-1825-0097")
    assert(authors.head.getAs[String]("author_key") == "smith;j")
    assert(authors.head.getAs[Boolean]("is_corresponding"))
    assert(a.getAs[String]("license") == "cc-by")
    assert(a.getAs[String]("normalized_title") == "a study of everything important")
  }

  test("CrossrefParser.withMergeKey: title_author guard + any-key filter") {
    val w = CrossrefParser.withMergeKey(CrossrefParser.parse(rawCrossref))
    assert(w.count() == 2) // all have DOIs
    val ta = w.filter(col("native_id") === "10.1234/a.1")
      .select("merge_key.title_author").as[String].collect().head
    assert(ta == "a study of everything important|smith")
  }

  test("WorkIdResolver: key-priority adoption, ambiguity guard, minting") {
    def mkRow(doi: Option[String], pmid: Option[String], ta: Option[String]) =
      (doi.orNull, pmid.orNull, ta.orNull)
    val locations = Seq(
      ("l1", mkRow(Some("10.1/x"), None, None)),          // adopt by doi
      ("l2", mkRow(None, Some("pm1"), None)),             // adopt by pmid
      ("l3", mkRow(None, None, Some("a discriminative long title|smith"))), // 2 cands → min
      ("l4", mkRow(None, None, Some("an ambiguous long title here|jones"))), // 4 cands → mint
      ("l5", mkRow(None, None, Some("short|x"))),         // guard: too short → mint
      ("l6", mkRow(Some("10.1/new"), None, None)),        // unmapped doi → mint
      ("l7", mkRow(Some("10.1/new"), None, None)),        // same new doi → SAME minted id
      ("l8", mkRow(Some("10.1/miss"), Some("pm1"), None)),// doi MISSES map → pmid hit wins
      ("l9", mkRow(Some("10.1/x"), Some("pm1"), None)))   // both hit → doi priority wins
      .map { case (n, (d, p, t)) => (n, d, p, t) }
      .toDF("loc", "doi", "pmid", "arxiv_raw")
      .withColumn("merge_key", struct(col("doi"), col("pmid"),
        lit(null).cast("string").as("arxiv"),
        col("arxiv_raw").as("title_author")))
      .drop("doi", "pmid", "arxiv_raw")
    val amb = "an ambiguous long title here|jones"
    val idMap = (Seq(
      ("doi", "10.1/x", 100L), ("pmid", "pm1", 200L),
      ("title_author", "a discriminative long title|smith", 301L),
      ("title_author", "a discriminative long title|smith", 302L)) ++
      (1 to 4).map(i => ("title_author", amb, 400L + i)))
      .toDF("key_type", "key", "work_id")
    val out = WorkIdResolver.resolve(locations, idMap)
      .select(col("loc"), col("work_id"), col("work_id_source"))
      .as[(String, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("l1") == ((100L, "doi")))
    assert(out("l2") == ((200L, "pmid")))
    assert(out("l3") == ((301L, "title_author")))
    assert(out("l4")._2 == "minted" && out("l4")._1 > 6600000000L)
    assert(out("l5")._2 == "minted")
    assert(out("l6") == out("l7")) // same key ⇒ same minted id
    assert(Set(out("l4")._1, out("l5")._1, out("l6")._1).size == 3)
    assert(out("l8") == ((200L, "pmid"))) // missed doi falls through
    assert(out("l9") == ((100L, "doi")))  // priority among multiple hits
  }

  test("WorksBase: survivorship by priority, location ranking, OA status") {
    val locs = Seq(
      (1L, 2, "2024-01-02 00:00:00", 11L, "title-from-pubmed", null.asInstanceOf[String]),
      (1L, 1, "2024-01-01 00:00:00", 12L, "title-from-crossref", "abs-cr"),
      (1L, 3, "2024-01-03 00:00:00", 13L, null.asInstanceOf[String], "abs-repo"))
      .toDF("work_id", "prio", "upd", "native_id", "title", "abstract")
      .withColumn("upd", col("upd").cast("timestamp"))
    val best = WorksBase.survivorship(locs, "work_id", col("prio"), col("upd"),
      col("native_id"), Seq("title", "abstract"))
    val r = best.collect()(0)
    assert(r.getAs[String]("title") == "title-from-crossref")  // priority 1 wins
    assert(r.getAs[String]("abstract") == "abs-cr")            // non-null + best prio
    val ranked = WorksBase.rankedLocations(locs, "work_id", col("prio"), col("upd"),
      Seq("native_id"))
    assert(ranked.select(col("primary_location.native_id")).as[Long].collect()(0) == 12L)

    def oa(isOa: Boolean, doaj: Boolean, apc: Boolean, host: String, lic: Boolean) =
      Seq(1).toDF("x").select(WorksBase.oaStatus(lit(isOa), lit(doaj), lit(apc),
        lit(host), lit(lic)).as("s")).as[String].collect()(0)
    assert(oa(false, false, false, "journal", false) == "closed")
    assert(oa(true, true, false, "journal", true) == "diamond")
    assert(oa(true, true, true, "journal", true) == "gold")
    assert(oa(true, false, false, "journal", true) == "hybrid")
    assert(oa(true, false, false, "journal", false) == "bronze")
    assert(oa(true, false, false, "repository", false) == "green")
  }

  test("TypeClassifier: first-match-wins cascade with default") {
    import TypeClassifier.Rule
    val rules = Seq(
      Rule("retraction-title", col("title").startsWith("Retraction:"), "retraction"),
      Rule("letter-native", col("raw_native_type") === "letter", "letter"),
      Rule("dataset-native", col("raw_native_type") === "dataset", "dataset"))
    val df = Seq(
      ("Retraction: bad paper", "journal-article"),
      ("Retraction: of a letter", "letter"),
      ("Regular paper", "letter"),
      ("Data descriptor", "dataset"),
      ("Plain", "journal-article"))
      .toDF("title", "raw_native_type")
    val out = df.withColumn("wtype", TypeClassifier.classify(rules))
      .select("title", "wtype").as[(String, String)].collect().toMap
    assert(out("Retraction: bad paper") == "retraction")
    assert(out("Retraction: of a letter") == "retraction") // first match wins
    assert(out("Regular paper") == "letter")
    assert(out("Data descriptor") == "dataset")
    assert(out("Plain") == "article") // no match → default
  }

  test("AuthorMatcher: orcid tier, duplicate-orcid skip, unique tiers, minting") {
    val candidates = Seq(
      (1001L, "smith;j", "0000-0001-0000-0001", Seq("I1"), Seq(10L)),
      (1002L, "smith;j", null.asInstanceOf[String], Seq("I2"), Seq(20L)),
      (1003L, "lee;k", null.asInstanceOf[String], Seq.empty[String], Seq.empty[Long]))
      .toDF("author_id", "block_key", "orcid", "institution_ids", "source_ids")
    val incoming = Seq(
      (1L, 1, "smith;j", "0000-0001-0000-0001", Seq.empty[String], 0L),  // orcid tier
      (2L, 1, "smith;j", null.asInstanceOf[String], Seq("I2"), 0L),      // inst tier → 1002
      (2L, 2, "smith;j", null.asInstanceOf[String], Seq.empty[String], 20L), // source tier → 1002
      (3L, 1, "lee;k", null.asInstanceOf[String], Seq.empty[String], 0L),    // unique name → 1003
      (3L, 2, "smith;j", null.asInstanceOf[String], Seq.empty[String], 0L),  // 2 cands → mint
      (4L, 1, "smith;j", "0000-0009-9999-9999", Seq.empty[String], 0L),  // dup orcid in work
      (4L, 2, "smith;j", "0000-0009-9999-9999", Seq.empty[String], 0L))  // → skip orcid tier
      .toDF("work_id", "author_seq", "block_key", "orcid", "institution_ids", "source_id")
    val out = AuthorMatcher.matchAuthors(incoming, candidates)
      .select(col("work_id"), col("author_seq"), col("author_id"), col("match_tier"))
      .as[(Long, Int, Long, String)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out((1L, 1)) == ((1001L, "orcid")))
    assert(out((2L, 1)) == ((1002L, "name_institution")))
    assert(out((2L, 2)) == ((1002L, "name_source")))
    assert(out((3L, 1)) == ((1003L, "name_unique")))
    assert(out((3L, 2))._2 == "minted")
    // duplicate-orcid rows do NOT match the (wrong) orcid tier
    assert(out((4L, 1))._2 != "orcid" && out((4L, 2))._2 != "orcid")
    // same minted block key ⇒ same new id
    assert(out((3L, 2))._1 == out((4L, 1))._1)
  }

  test("Guardrails: churn / attribute loss / referential") {
    val works = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "c"))
      .toDF("id", "abstract")
    val churnOk = Guardrails.churn(works, col("id") > 2, maxChanged = 2)
    val churnBad = Guardrails.churn(works, lit(true), maxChanged = 2)
    assert(churnOk.passed && !churnBad.passed)
    assert(Guardrails.attributeLoss(works, "abstract", baseline = 2, 0, 0.05).passed)
    assert(!Guardrails.attributeLoss(works, "abstract", baseline = 10, 1, 0.05).passed)
    val child = Seq((1L, 1L), (2L, 99L)).toDF("id", "work_id")
    val ref = Guardrails.referential(child, "work_id", works.select(col("id")), "id")
    assert(!ref.passed && ref.value == 1)
    assert(Guardrails.runAll(Seq(churnOk)).isRight)
    assert(Guardrails.runAll(Seq(churnOk, churnBad)).isLeft)
  }

  test("DataCiteParser: attrs projection, ORCID scheme pick, year date") {
    import graft.ingest.DataCiteParser
    val raw = spark.read.json(Seq(
      """{"attributes":{"doi":"10.5061/DRYAD.1","titles":[{"title":"A Dataset Of Many Things"}],
        |"creators":[{"givenName":"Ana","familyName":"Silva","name":null,
        |"nameIdentifiers":[{"nameIdentifier":"https://orcid.org/0000-0002-1825-0097","nameIdentifierScheme":"ORCID"}]}],
        |"publicationYear":2021,"types":{"resourceTypeGeneral":"Dataset"},
        |"rightsList":[{"rightsUri":"https://creativecommons.org/publicdomain/zero/1.0"}],
        |"descriptions":[{"description":"The abstract.","descriptionType":"Abstract"}],
        |"publisher":"Dryad","updated":"2024-01-01 00:00:00"}}""".stripMargin.replace("\n","")).toDS())
    val r = DataCiteParser.parse(raw).collect()(0)
    assert(r.getAs[String]("native_id") == "10.5061/dryad.1")
    assert(r.getAs[String]("type") == "dataset")
    assert(r.getAs[String]("abstract") == "The abstract.")
    assert(r.getAs[java.sql.Date]("published_date").toString == "2021-01-01")
    val a = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("authors")).head
    assert(a.getAs[String]("orcid") == "0000-0002-1825-0097")
  }

  test("UnionLocations: unionByName + SCD1 latest per source key") {
    import graft.resolve.UnionLocations
    import graft.ingest.CrossrefParser
    val w1 = CrossrefParser.parse(rawCrossref)
    // replay the same records with a newer updated_date → latest wins, no dup keys
    val w2 = w1.withColumn("updated_date",
      col("updated_date") + expr("INTERVAL 10 DAYS"))
      .withColumn("title", concat(col("title"), lit(" v2")))
    val u = UnionLocations(Seq(w1, w2))
    assert(u.count() == w1.count())
    assert(u.filter(col("title").endsWith(" v2")).count() == w1.count())
  }

  test("Authorships: ordered array, positions, institution lineage") {
    import graft.authors.Authorships
    val matched = Seq(
      (1L, 0, 101L, "Jo Smith", true, Seq("I1")),
      (1L, 1, 102L, "Kim Lee", false, Seq.empty[String]),
      (1L, 2, 103L, "Ana Silva", false, Seq("I1", "I2")))
      .toDF("work_id", "author_seq", "author_id", "raw_name", "is_corresponding",
        "institution_ids")
    val insts = Seq(
      ("I1", "MIT", "US", Seq("I1")),
      ("I2", "Oxford", "GB", Seq("I2", "I2-parent")))
      .toDF("institution_id", "display_name", "country_code", "lineage")
    val out = Authorships.assemble(matched, insts).collect()(0)
    val as = out.getSeq[org.apache.spark.sql.Row](out.fieldIndex("authorships"))
    assert(as.size == 3)
    assert(as.map(_.getAs[String]("author_position")) == Seq("first", "middle", "last"))
    val third = as(2)
    assert(third.getSeq[org.apache.spark.sql.Row](third.fieldIndex("institutions")).size == 2)
    assert(third.getSeq[String](third.fieldIndex("countries")) == Seq("GB", "US"))
    assert(out.getAs[Boolean]("has_corresponding"))
  }

  test("LandingPageParser: error filter, signal filter, join-key ids, positional corresponding") {
    import graft.ingest.LandingPageParser
    val raw = spark.read.json(Seq(
      """{"url":"https://pub.example/x","error_had":false,
        |"authors":[{"given":"Jo","family":"Smith","orcid":null},{"given":"Kim","family":"Lee","orcid":null}],
        |"is_corresponding":[true,false],"abstract":"From the landing page.",
        |"license":"cc-by","doi":"10.9/ALPHA","pmh":"oai:repo:1","updated":"2024-03-03 00:00:00"}""",
      """{"url":"https://pub.example/err","error_had":true,"authors":[],"abstract":"x",
        |"license":null,"doi":null,"pmh":null,"updated":"2024-03-03 00:00:00"}""",
      """{"url":"https://pub.example/empty","error_had":false,"authors":[],"abstract":null,
        |"license":null,"doi":null,"pmh":null,"updated":"2024-03-03 00:00:00"}""",
      """{"url":"https://pub.example/otheroa","error_had":false,"authors":[],"abstract":"a",
        |"license":"other-oa","doi":null,"pmh":null,"updated":"2024-03-03 00:00:00"}""")
      .map(_.stripMargin.replace("\n","")).toDS())
    val out = LandingPageParser.parse(raw)
    assert(out.count() == 2) // error row + no-signal row dropped
    val r = out.filter(col("native_id") === "https://pub.example/x").collect()(0)
    assert(r.getAs[String]("native_id_namespace") == "url")
    val ids = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("ids"))
      .map(i => (i.getString(0), i.getString(1)))
    assert(ids == Seq(("10.9/alpha", "doi"), ("oai:repo:1", "pmh")))
    val a = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("authors"))
    assert(a.head.getAs[Boolean]("is_corresponding") && !a(1).getAs[Boolean]("is_corresponding"))
    // other-oa license nulled
    val oa = out.filter(col("native_id") === "https://pub.example/otheroa").collect()(0)
    assert(oa.getAs[String]("license") == null)
    // the super-locations join path: extract the doi key and match crossref native_id
    val joined = out.withColumn("doi_key",
      LandingPageParser.idFromIds(col("ids"), "doi"))
      .filter(col("doi_key") === "10.9/alpha")
    assert(joined.count() == 1)
  }

  test("SuperLocations: scored best-URL attachment via extracted doi keys") {
    import graft.resolve.SuperLocations
    import graft.ingest.LandingPageParser
    val base = Seq(("10.9/alpha", "crossref"), ("10.9/beta", "crossref"))
      .toDF("native_id", "provenance")
    val scraped = spark.read.json(Seq(
      // aggregator https vs publisher http vs publisher https for alpha
      """{"url":"https://aggregator.example/a","error_had":false,
        |"authors":[{"given":"Jo","family":"Smith","orcid":null}],"is_corresponding":[true],
        |"abstract":"x","license":null,"doi":"10.9/alpha","pmh":null,"updated":"2024-01-01 00:00:00"}""",
      """{"url":"http://publisher.example/a","error_had":false,"authors":[],"is_corresponding":[],
        |"abstract":"x","license":null,"doi":"10.9/alpha","pmh":null,"updated":"2024-01-02 00:00:00"}""",
      """{"url":"https://publisher.example/a2","error_had":false,"authors":[],"is_corresponding":[],
        |"abstract":"x","license":null,"doi":"10.9/alpha","pmh":null,"updated":"2024-01-01 00:00:00"}""")
      .map(_.stripMargin.replace("\n","")).toDS())
    val walden = LandingPageParser.parse(scraped)
    val out = SuperLocations.attachBestUrls(base, walden, "doi",
      publisherDomains = Seq("publisher.example"))
    val urls = out.select("native_id", "landing_page_url")
      .as[(String, String)].collect().toMap
    // publisher https (score 0) beats publisher http (1) and aggregator https (2)
    assert(urls("10.9/alpha") == "https://publisher.example/a2")
    assert(urls("10.9/beta") == null) // no scrape → left join keeps the row
  }

  test("demo composed path SuperLocations→SourceMatcher: source_id " +
    "coverage parity, one attach per tier") {
    val (_, resolved) = DomainSliceFixture.resolved(spark)
    val attached = DomainSliceFixture.locations(spark, resolved)
    // parity: every location row leaves the cascade with a source_id
    assert(attached.filter(col("source_id").isNull).count() == 0)
    assert(attached.count() == 4)
    val byRow = attached.select("native_id", "best_doi", "source_id")
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2)))
    // ISSN tier (CTAS) for both alpha provenance rows
    assert(byRow.count(r => r._2.contains("10.9/alpha") && r._3 == 9001L) == 2)
    // post-CTAS ebook-platform publisher MERGE for the book-typed beta
    assert(byRow.count(r => r._2.contains("10.9/beta") && r._3 == 9002L) == 1)
    // post-CTAS normalized display-name final fallback for 'J. Spark!'
    assert(byRow.count(r => r._1 == "L-gamma" && r._3 == 9001L) == 1)
  }

  test("composed nightly tail: curations → references → fulltext → ROR " +
    "sync → API builds → snapshot docs, SnapshotSmoke all-PASS gate") {
    val (_, resolved) = DomainSliceFixture.resolved(spark)
    val typed = DomainSliceFixture.typed(spark, resolved)
    val (_, refined) = DomainSliceFixture.affiliations(spark, resolved)
    val attached = DomainSliceFixture.locations(spark, resolved)
    val sdgMerged = DomainSliceFixture.sdg(spark, typed)
    val tail = DomainSliceFixture.nightlyTail(spark, resolved, typed,
      attached, refined, sdgMerged)

    // SDG frontfill: only the eligible article reaches the classifier,
    // and the 0.4 score floor drops its weak goal
    assert(sdgMerged.count() == 1)
    assert(sdgMerged.select(size(col("sdg"))).as[Int].head() == 1)

    // location curation: the curator's pdf replacement lands and syncs
    // the urls array; the nulled landing page disappears
    val beta = tail.curated.filter(col("native_id") === "10.9/beta")
      .select("pdf_url").as[String].head()
    assert(beta == "https://curated.example/beta.pdf")
    assert(tail.curated.filter(col("native_id") === "L-gamma" &&
      col("landing_page_url").isNull).count() == 1)

    // references: alpha resolves its beta citation to beta's work id
    val betaId = resolved.filter(col("native_id") === "10.9/beta")
      .select("work_id").as[Long].head()
    val refs = tail.references
      .select(explode(col("referenced_works")).as("r")).as[Long]
      .collect().toSeq
    assert(refs == Seq(betaId))

    // fulltext: every work with a DOI keys in; text is tag-stripped
    assert(tail.fulltext.count() == 2)
    assert(tail.fulltext.filter(col("fulltext").startsWith("Full text"))
      .count() == 2)

    // ROR sync: the new lab minted PAST the existing max id; MIT's
    // geo fields refreshed from the newer dump record
    assert(tail.registry.filter(col("display_name") === "New Lab" &&
      col("id") === 43L).count() == 1)
    assert(tail.registry.filter(col("display_name") === "MIT" &&
      col("city") === "Cambridge").count() == 1)

    // enriched works carry the composed institutions + citation counts
    assert(tail.worksEnriched.count() == 2)
    assert(tail.worksEnriched.filter(col("cited_by_count") > 0)
      .select("id").as[Long].collect().toSeq == Seq(betaId))

    // the funder junction legs surface in the enriched works' rolled
    // funders array (CreateWorksEnriched cell 17): alpha through the
    // crossref registry-DOI junction (its doi-less assertion dropped),
    // beta through the funder-reported OUTPUT-LIST union (its
    // unregistered-DOI crossref assertion dropped at the inner join)
    val funderIdsByWork = tail.worksEnriched
      .select(col("id"), explode(col("funders")).as("__f"))
      .select(col("id"), col("__f.id").as("fid"), col("__f.ror"))
      .as[(Long, String, String)].collect().toSeq.sorted
    assert(funderIdsByWork === Seq(
      (6600000001L, "https://openalex.org/F8651541334",
        "https://ror.org/03kw54a66"),
      (betaId, "https://openalex.org/F4391743520",
        "https://ror.org/00fx2mx93")).sorted)

    // API builds: one entity per registry row, works-derived counts
    assert(tail.sourcesApi.count() == 2)
    assert(tail.publishersApi.count() == 2)
    assert(tail.institutionsApi.count() == 2)
    assert(tail.institutionsApi.filter(col("id") === 42L)
      .select("works_count").as[Long].head() >= 1)
    // the topic rollup sees both works' primary topic at every level
    assert(tail.domainCounts.count() == 4)

    // snapshot docs: W-prefixed ids, derived year, sanitized names
    assert(tail.worksDocs.count() == 2)
    assert(tail.worksDocs.filter(
      !col("id").startsWith("https://openalex.org/W")).count() == 0)

    // awards chain: the crossref shell spelling collapses onto the
    // minted prize; the works' deposited edges aggregate onto the
    // survivor through the alias; the shared-year portion apportions
    assert(tail.awardAliases.count() == 1)
    assert(tail.awards.count() == 2)
    val prize = tail.awards
      .filter(col("funder_award_id") === "abel-2022-demo")
      .select("funded_outputs_count").as[Long].head()
    assert(prize == 2L)
    assert(tail.awards.filter(col("funder_award_id") === "abel-2004-shared")
      .select("amount").as[Double].head() == 3000000.0)

    // the RELEASE GATE: guardrails green and every smoke verdict PASS
    assert(tail.guardrails.forall(_.passed),
      tail.guardrails.filterNot(_.passed).map(_.detail).mkString("; "))
    val verdicts = tail.smokeVerdicts.filter(col("passed").isNotNull)
      .select("check", "passed").as[(String, Int)].collect().toSeq
    assert(verdicts.nonEmpty)
    assert(verdicts.forall(_._2 == 1),
      "smoke failures: " + verdicts.filter(_._2 == 0).mkString(", "))
  }
}
