package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Incremental
import graft.ingest.PubMedParser

class IncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Incremental.diff: insert/update/delete with no-op suppression") {
    val prev = Seq((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L))
      .toDF("k", "v", "x")
    val next = Seq((1L, "a", 10L), (2L, "B", 10L), (4L, "d", 10L))
      .toDF("k", "v", "x")
    val d = Incremental.diff(prev, next, Seq("k"), Seq("v", "x"))
      .select("k", "_change_type").as[(Long, String)].collect().toMap
    assert(d == Map(2L -> "update", 3L -> "delete", 4L -> "insert"))
    // no-op row 1 suppressed entirely
  }

  test("Incremental.bumpUpdatedDate only on content change") {
    val prevHashes = Seq((1L, "a"), (3L, "c")).toDF("k", "v")
      .withColumn("content_hash", Incremental.contentHash(Seq(col("v"))))
      .withColumn("updated_date", lit("2020-01-01").cast("timestamp"))
      .select("k", "content_hash", "updated_date")
    val next = Seq((1L, "a"), (2L, "b"), (3L, "CHANGED")).toDF("k", "v")
    val out = Incremental.bumpUpdatedDate(next, prevHashes, Seq("k"), Seq("v"),
        lit("2024-06-01").cast("timestamp"))
      .select(col("k"), col("updated_date").cast("string"))
      .as[(Long, String)].collect().toMap
    assert(out(1L).startsWith("2020-01-01"))  // unchanged → keeps old date
    assert(out(2L).startsWith("2024-06-01"))  // new → bumped
    assert(out(3L).startsWith("2024-06-01"))  // changed → bumped
  }

  test("Incremental.aboveWatermark filters strictly above") {
    val df = Seq((1L, 5L), (2L, 10L), (3L, 15L)).toDF("k", "seq")
    assert(Incremental.aboveWatermark(df, col("seq"), Some(10L)).count() == 1)
    assert(Incremental.aboveWatermark(df, col("seq"), None).count() == 3)
  }

  test("PubMedParser: from_xml record → walden row") {
    val xml =
      """<PubmedArticle><MedlineCitation><PMID>12345</PMID>
        |<DateRevised><Year>2024</Year><Month>3</Month><Day>9</Day></DateRevised>
        |<Article><ArticleTitle>A PubMed Title Of Substance</ArticleTitle>
        |<Abstract><AbstractText>Some abstract text.</AbstractText></Abstract>
        |<Journal><Title>J Med</Title><JournalIssue><PubDate><Year>2023</Year>
        |<Month>7</Month></PubDate></JournalIssue></Journal>
        |<AuthorList><Author><LastName>Smith</LastName><ForeName>Jo</ForeName></Author>
        |<Author><LastName>Lee</LastName><ForeName>Kim</ForeName></Author></AuthorList>
        |</Article></MedlineCitation></PubmedArticle>""".stripMargin.replace("\n", "")
    val out = PubMedParser.parse(Seq(xml).toDF("xml"))
    assert(out.count() == 1)
    val r = out.collect()(0)
    assert(r.getAs[String]("native_id") == "12345")
    assert(r.getAs[String]("title") == "A PubMed Title Of Substance")
    assert(r.getAs[String]("abstract") == "Some abstract text.")
    assert(r.getAs[java.sql.Date]("published_date").toString == "2023-07-01")
    val authors = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("authors"))
    assert(authors.map(_.getAs[String]("author_key")) == Seq("smith;j", "lee;k"))
    // malformed XML → filtered, not crashed
    assert(PubMedParser.parse(Seq("<not-xml").toDF("xml")).count() == 0)
  }

  test("TeiParser: GROBID TEI header → walden row") {
    import graft.ingest.TeiParser
    val tei =
      """<TEI><teiHeader><fileDesc><titleStmt><title>A Grobid Parsed Paper Title</title></titleStmt>
        |<sourceDesc><biblStruct><analytic>
        |<author><persName><forename>Ana</forename><surname>Silva</surname></persName></author>
        |<idno type="DOI">10.5555/tei.1</idno>
        |</analytic><monogr><imprint><date when="2022-11-03"/></imprint></monogr>
        |</biblStruct></sourceDesc></fileDesc>
        |<profileDesc><abstract><p>The abstract body.</p></abstract></profileDesc>
        |</teiHeader></TEI>""".stripMargin.replace("\n", "")
    val out = TeiParser.parse(Seq(tei).toDF("xml"))
    val r = out.collect()(0)
    assert(r.getAs[String]("native_id") == "10.5555/tei.1")
    assert(r.getAs[String]("title") == "A Grobid Parsed Paper Title")
    assert(r.getAs[String]("abstract") == "The abstract body.")
    assert(r.getAs[java.sql.Date]("published_date").toString == "2022-11-03")
    val a = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("authors")).head
    assert(a.getAs[String]("author_key") == "silva;a")
    // no DOI → content-hash native id, pdf_hash namespace
    val noDoi = tei.replace("""<idno type="DOI">10.5555/tei.1</idno>""", "")
    val r2 = TeiParser.parse(Seq(noDoi).toDF("xml")).collect()(0)
    assert(r2.getAs[String]("native_id_namespace") == "pdf_hash")
    assert(r2.getAs[String]("native_id").length == 32)
  }

  test("OaiFunctions: version detection cascade + dc:identifier extraction") {
    import graft.ingest.OaiFunctions
    def v(m: String): String = Seq(1).toDF("x")
      .select(OaiFunctions.detectVersion(lit(m)).as("v")).collect()(0).getString(0)
    assert(v("info:eu-repo/semantics/publishedVersion") == "publishedVersion")
    assert(v("this is the accepted manuscript / postprint") == "acceptedVersion")
    assert(v("preprint deposited by author") == "submittedVersion")
    assert(v("nothing informative") == null)

    val ids = Seq(Seq(
      "https://doi.org/10.1234/X.1",
      "https://pubmed.ncbi.nlm.nih.gov/pubmed/123456",
      "oai:arXiv.org:2101.00001",
      "https://repo.example.org/record/9",
      "garbage")).toDF("identifiers")
      .select(OaiFunctions.extractIds(col("identifiers")).as("ids"))
    val out = ids.selectExpr("inline(ids)").as[(String, String, String)]
      .collect().toSeq
    assert(out.contains(("10.1234/x.1", "doi", "self")))
    assert(out.contains(("123456", "pmid", "self")))
    assert(out.contains(("10.48550/arxiv.2101.00001", "doi", "derived")))
    assert(out.contains(("https://repo.example.org/record/9", "url", "self")))
    assert(out.size == 4) // garbage dropped
  }

  test("RepoFunctions: best dc:type by quality, affiliation-as-author filter") {
    import graft.ingest.RepoFunctions
    def bt(ts: Seq[String]): String = Seq(Tuple1(ts)).toDF("types")
      .select(RepoFunctions.bestType(col("types")).as("t")).collect()(0).getString(0)
    assert(bt(Seq("info:eu-repo/semantics/article", "journal-article", "text"))
      == "journal-article")
    assert(bt(Seq("text", "publication")) == "text") // tie at q2 → first wins
    assert(bt(Seq("weird-custom-type")) == "weird-custom-type")

    val authors = Seq(Tuple1(Seq("Jo Smith",
      "Department of Physics, Example University", "The ATLAS Consortium")))
      .toDF("names")
      .select(RepoFunctions.dropAffiliationAuthors(
        transform(col("names"), n => struct(n.as("name")))).as("kept"))
      .selectExpr("transform(kept, x -> x.name) AS kept")
      .as[Seq[String]].collect()(0)
    assert(authors == Seq("Jo Smith"))
    // allowlist keeps a legitimate group author
    val allowed = Seq(1).toDF("x").select(RepoFunctions.isAffiliationAsAuthor(
      lit("The ATLAS Consortium"), allowlisted = lit(true)).as("b"))
      .as[Boolean].collect()(0)
    assert(!allowed)
  }
}
