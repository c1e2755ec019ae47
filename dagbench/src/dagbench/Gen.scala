package dagbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Normalize

/** Fixed vocabularies. Every generated string is built from these, so
  * titles, names and institutions never need escaping in JSON or XML. */
object Vocab {
  private val syl = Array("ka", "lo", "mi", "ne", "ra", "so", "tu", "vi",
    "pe", "da", "ri", "mo", "zu", "fa", "ge", "hi", "jo", "ku", "la", "ma",
    "no", "pi", "se", "ta", "we")
  private def word(i: Int): String =
    syl(i % 25) + syl((i / 25) % 25) + syl((i / 625) % 25)
  private def cap(s: String): String = s.capitalize
  val words: Seq[String] = (0 until 800).map(i => word(i * 37 % 15625))
  val givens: Seq[String] = (0 until 150).map(i => cap(word(i * 101 % 15625 + 3)))
  val families: Seq[String] = (0 until 1500).map(i => cap(word(i * 7 % 15625 + 9000)))
  private val kinds = Seq("University of", "Institute for", "College of", "Academy of")
  val institutions: Seq[String] = (0 until 300).map(i =>
    s"${kinds(i % 4)} ${cap(words(i))} ${cap(words(i + 300))}")
  val journals: Seq[String] = (0 until 120).map(i =>
    s"Journal of ${cap(words(i + 600))} ${cap(words(i + 100))}")
  val publishers: Seq[String] = (0 until 20).map(i => s"${cap(words(i + 700))} Press")
  val funders: Seq[String] = (0 until 40).map(i =>
    s"${cap(words(i + 720))} ${cap(words(i + 760))} Foundation")
  val sources: Seq[String] = Seq("web", "books", "code", "papers", "forums")
}

/** Sizes of one generated corpus. */
final case class Sizes(works: Long, persons: Long, clusters: Long,
    docs: Long)

/** Seeded generator. Every value is a hash of (seed, entity, salt), so
  * the same seed gives the same inputs on any machine and in any
  * partitioning, and a different seed changes every title, name, key
  * and text. The program only ever sees the landed raw feeds and
  * registries; the ground-truth counts stay on the benchmark's side. */
final class Gen(spark: SparkSession, seed: Long, sz: Sizes) {
  private val W = Vocab.words.size
  private def h(parts: Column*): Column = xxhash64((lit(seed) +: parts): _*)
  private def u(parts: Column*): Column =
    pmod(h(parts: _*), lit(1L << 30)).cast("double") / (1L << 30).toDouble
  private def pickIdx(n: Int, parts: Column*): Column =
    (pmod(h(parts: _*), lit(n.toLong)) + 1).cast("int")
  private def arr(xs: Seq[String]): Column = typedLit(xs)
  private def wordsOf(n: Column, parts: Column*): Column =
    concat_ws(" ", transform(sequence(lit(0), n - 1), i =>
      element_at(arr(Vocab.words), pickIdx(W, (parts :+ i): _*))))
  private def k(i: Int): Column = lit(i)

  val doiPrefix: String = s"10.${1000 + math.floorMod(seed, 9000L)}/w"
  private val w = col("w")
  /** Works in a collision cluster share title and first author, in
    * groups of five — more than the resolver's three-candidate cap. */
  private val inCluster = w < lit(5 * sz.clusters)
  private val tw = when(inCluster, lit(1L << 40) + floor(w / 5)).otherwise(w)

  private def person(j: Column): Column =
    when(j === 0 && inCluster, pmod(h(tw, k(4)), lit(sz.persons)))
      .otherwise(floor(pow(u(w, k(5), j), 2.5) * sz.persons).cast("long"))
  private def personStruct(p: Column): Column = struct(
    element_at(arr(Vocab.givens), pickIdx(Vocab.givens.size, k(6), p)).as("given"),
    element_at(arr(Vocab.families),
      (floor(pow(u(k(7), p), 2.0) * Vocab.families.size) + 1).cast("int")).as("family"),
    when(pmod(p, lit(4)) === 0, {
      val s = lpad(p.cast("string"), 11, "0")
      concat(lit("0000-"), substring(s, 1, 4), lit("-"), substring(s, 5, 4),
        lit("-"), substring(s, 9, 3), lit("0"))
    }).as("orcid"),
    floor(pow(u(k(8), p), 2.0) * Vocab.institutions.size).cast("int").as("inst"),
    p.as("person"))

  /** The planted works: one row per true work, with its feed plan.
    * Shares that the reference's production figures give are taken from
    * BASELINE.md (497,363,693 works, `Guardrails.ipynb:77`):
    *  - abstract: 288,704,874 works with any abstract (`Guardrails.ipynb:65`), 58%;
    *  - affiliation strings: 181,725,890 works (`Guardrails.ipynb:65`), 37%;
    *    of those, 167,226,896 with institution ids, so 8% of affiliated
    *    works name no registry institution;
    *  - references: 3,758,687,070 raw records (`parse_work_references.ipynb:123`),
    *    7.6 per work, of which 1,526,343,813 (41%) resolve to no work;
    *  - landing pages: ~59M scraped records (`seed_parsed_pages.ipynb:10`),
    *    0.12 per work;
    *  - PubMed: 618,777,313 mapped locations (`CreateLocationsMapped.sql:1175`),
    *    1.24 per work, so about one work in four has a second (PubMed)
    *    location beside its DOI record.
    * The DOI registrar split, types, licences, funders and re-deposits
    * have no production figure there and are set by hand. */
  def works(from: Long, until: Long): DataFrame = {
    val nAuth = (floor(pow(u(w, k(3)), 2.0) * 6) + 1).cast("int")
    // raw references come only with Crossref deposits (85% of works), so
    // a Crossref work deposits 9 on average for 7.6 over all works
    val nRefs = floor(u(w, k(10)) * 19).cast("int")
    val src = floor(pow(u(w, k(13)), 1.5) * Vocab.journals.size).cast("int")
    val primary = when(u(w, k(16)) < 0.85, "crossref").otherwise("datacite")
    val affil = u(w, k(26))
    val nLanding = u(w, k(18))
    spark.range(from, until, 1, 4).toDF("w").select(
      w, concat(lit(doiPrefix), w.cast("string")).as("doi"),
      (lit(10000000L) + w).cast("string").as("pmid"),
      wordsOf(pmod(h(tw, k(1)), lit(5)) + 8, tw, k(2)).as("title"),
      when(u(w, k(27)) < 0.58, wordsOf(pmod(h(w, k(9)), lit(30)) + 30, w, k(9)))
        .as("abstract"),
      transform(sequence(lit(0), nAuth - 1), j => personStruct(person(j))).as("authors"),
      // only Crossref deposits (85% of works) carry affiliations: 43% of
      // them for 37% of all works, 39.6% naming an institution for 34%
      when(affil < 0.396, "matched").when(affil < 0.43, "unmatched")
        .otherwise("none").as("affil"),
      // a reference resolves to an earlier work of the corpus, or (41%,
      // and always for the first work) to a DOI outside it
      when(nRefs > 0, array_distinct(transform(sequence(lit(0), nRefs - 1), i =>
        when(w > 0 && u(w, k(28), i) >= 0.41, concat(lit(doiPrefix),
          floor(pow(u(w, k(11), i), 2.0) * w).cast("long").cast("string")))
          .otherwise(concat(lit("10.5555/ext"), w.cast("string"), lit("."),
            i.cast("string"))))))
        .otherwise(array().cast("array<string>")).as("refs"),
      (pmod(h(w, k(12)), lit(13)) + 2012).cast("int").as("year"),
      (pmod(h(w, k(22)), lit(12)) + 1).cast("int").as("month"),
      (pmod(h(w, k(23)), lit(28)) + 1).cast("int").as("day"),
      element_at(arr(Seq("journal-article", "journal-article", "journal-article",
        "journal-article", "proceedings-article", "book-chapter", "posted-content",
        "report")), pickIdx(8, w, k(24))).as("type"),
      src.as("source"),
      (u(w, k(25)) < 0.4).as("has_license"),
      when(u(w, k(14)) < 0.3,
        floor(pow(u(w, k(15)), 2.0) * Vocab.funders.size).cast("int")).as("funder"),
      primary.as("primary"),
      (u(w, k(17)) < 0.24 && !inCluster).as("has_pubmed"),
      // 0.12 records per work: 8% of works, a quarter of them with a
      // mirror and a failed scrape beside the publisher page
      when(nLanding < 0.08, when(u(w, k(19)) < 0.25, 3).otherwise(1))
        .otherwise(0).as("n_landing"),
      (primary === "crossref" && u(w, k(20)) < 0.1).as("redeposit"),
      timestamp_seconds(lit(1717200000L) - pmod(h(w, k(21)), lit(8640000L)))
        .as("updated"))
  }

  /** References that resolve to a work of the corpus. */
  def resolvedRefs(refs: Column): Column =
    filter(refs, r => r.startsWith(doiPrefix))

  private def instName(i: Column): Column =
    element_at(arr(Vocab.institutions), i + 1)
  private def affString(a: Column): Column =
    concat(instName(a.getField("inst")), lit(", Department of Studies"))
  private val unmatchedAffil = lit("Independent Researcher")

  def crossrefRecord(ws: DataFrame): DataFrame = ws.select(to_json(struct(
    col("doi"), array(col("title")).as("title"),
    transform(col("authors"), (a, i) => struct(a.getField("given").as("given"),
      a.getField("family").as("family"), a.getField("orcid").as("orcid"),
      when(col("affil") === "matched", array(struct(affString(a).as("name"))))
        .when(col("affil") === "unmatched", array(struct(unmatchedAffil.as("name"))))
        .as("affiliation"),
      when(i === 0, "first").otherwise("additional").as("sequence"))).as("author"),
    struct(array(array(col("year"), col("month"), col("day"))).as("date_parts"))
      .as("issued"),
    col("type"),
    when(col("has_license"), array(struct(
      lit("https://creativecommons.org/licenses/by/4.0").as("url")))).as("license"),
    array(element_at(arr(Vocab.journals), col("source") + 1)).as("container_title"),
    element_at(arr(Vocab.publishers), pmod(col("source"), lit(20)) + 1).as("publisher"),
    col("abstract"), col("updated"),
    // Crossref omits `reference` when a work deposits none
    when(size(col("refs")) > 0, transform(col("refs"), r => struct(r.as("doi"))))
      .as("reference"),
    when(col("funder").isNotNull, array(struct(
      concat(lit("10.13039/"), (col("funder") + 100000).cast("string")).as("doi"),
      array(concat(lit("AWD-"), col("funder").cast("string"), lit("-"),
        pmod(col("w"), lit(997)).cast("string"))).as("awards")))).as("funder"),
    array(concat(lit("1000-"), lpad(col("source").cast("string"), 4, "0")))
      .as("issn"))).as("value"))

  def dataciteRecord(ws: DataFrame): DataFrame = ws.select(to_json(struct(struct(
    col("doi"), array(struct(col("title").as("title"))).as("titles"),
    transform(col("authors"), a => struct(a.getField("given").as("givenName"),
      a.getField("family").as("familyName"),
      when(a.getField("orcid").isNotNull, array(struct(
        concat(lit("https://orcid.org/"), a.getField("orcid")).as("nameIdentifier"),
        lit("ORCID").as("nameIdentifierScheme")))).as("nameIdentifiers")))
      .as("creators"),
    col("year").as("publicationYear"),
    struct(lit("Text").as("resourceTypeGeneral")).as("types"),
    when(col("abstract").isNotNull, array(struct(col("abstract").as("description"),
      lit("Abstract").as("descriptionType")))).as("descriptions"),
    element_at(arr(Vocab.publishers), pmod(col("source"), lit(20)) + 1).as("publisher"),
    col("updated")).as("attributes"))).as("value"))

  def pubmedRecord(ws: DataFrame): DataFrame = ws.select(concat(
    lit("<PubmedArticle><MedlineCitation><PMID>"), col("pmid"),
    lit("</PMID><DateRevised><Year>"), year(col("updated")).cast("string"),
    lit("</Year><Month>"), month(col("updated")).cast("string"),
    lit("</Month><Day>"), dayofmonth(col("updated")).cast("string"),
    lit("</Day></DateRevised><Article><ArticleTitle>"), col("title"),
    lit("</ArticleTitle>"), coalesce(concat(lit("<Abstract><AbstractText>"),
      col("abstract"), lit("</AbstractText></Abstract>")), lit("")),
    lit("<Journal><Title>"),
    element_at(arr(Vocab.journals), col("source") + 1),
    lit("</Title><JournalIssue><PubDate><Year>"), col("year").cast("string"),
    lit("</Year><Month>"), col("month").cast("string"),
    lit("</Month></PubDate></JournalIssue></Journal><AuthorList>"),
    concat_ws("", transform(col("authors"), a => concat(lit("<Author><LastName>"),
      a.getField("family"), lit("</LastName><ForeName>"), a.getField("given"),
      lit("</ForeName></Author>")))),
    lit("</AuthorList></Article></MedlineCitation></PubmedArticle>")).as("value"))

  /** Landing pages: a publisher-domain URL, sometimes a mirror, and
    * sometimes a failed scrape that the parser must drop. */
  def landingRecord(ws: DataFrame): DataFrame = ws.filter(col("n_landing") > 0)
    .select(col("*"), explode(sequence(lit(0), col("n_landing") - 1)).as("li"))
    .select(to_json(struct(
      when(col("li") === 0, concat(lit("https://pub"),
        pmod(col("source"), lit(20)).cast("string"), lit(".example.org/article/"),
        col("w").cast("string")))
        .when(col("li") === 1, concat(lit(s"http://mirror.example.net/$seed/"),
          col("w").cast("string")))
        .otherwise(concat(lit("https://broken.example.com/"), col("w").cast("string")))
        .as("url"),
      (col("li") === 2).as("error_had"),
      transform(col("authors"), a => struct(a.getField("given").as("given"),
        a.getField("family").as("family"), a.getField("orcid").as("orcid")))
        .as("authors"),
      transform(col("authors"), (_, i) => i === 0).as("is_corresponding"),
      col("abstract"),
      when(col("has_license"), lit("cc-by")).as("license"),
      col("doi"), lit(null).cast("string").as("pmh"),
      (col("updated") + expr("INTERVAL 1 DAY")).as("updated"))).as("value"))

  /** Crossref feed: one record per crossref work plus an older
    * re-deposit for some (the union's SCD1 step must keep the newer). */
  def crossrefFeed(ws: DataFrame): DataFrame = {
    val cr = ws.filter(col("primary") === "crossref")
    val old = cr.filter(col("redeposit"))
      .withColumn("abstract", concat(col("abstract"), lit(" draft")))
      .withColumn("updated", col("updated") - expr("INTERVAL 30 DAYS"))
    crossrefRecord(cr.unionByName(old))
  }

  // ── registries (small dimensions the program reads next to the feeds)

  def authorRegistry(): DataFrame = {
    val p = col("id")
    spark.range(0, sz.persons, 1, 2).filter(u(p, k(30)) < 0.7)
      .select(personStruct(p).as("a"))
      .select((lit(5000000000L) + col("a.person")).as("author_id"),
        Normalize.authorKey(col("a.family"), col("a.given")).as("block_key"),
        col("a.orcid").as("orcid"),
        array(affString(col("a"))).as("institution_ids"),
        array().cast("array<bigint>").as("source_ids"))
  }

  def institutions(): DataFrame = {
    val s = spark; import s.implicits._
    Vocab.institutions.zipWithIndex.map { case (n, i) =>
      (1000L + i, n, Seq("US", "GB", "DE", "FR", "JP")(i % 5), Vocab.words(i))
    }.toDF("institution_id", "display_name", "country_code", "token")
  }

  def funders(): DataFrame = {
    val s = spark; import s.implicits._
    Vocab.funders.zipWithIndex.map { case (n, i) =>
      (4000000000L + i, n, s"https://ror.org/0f$i", s"10.13039/${100000 + i}")
    }.toDF("funder_id", "display_name", "ror_id", "doi")
      .withColumn("merge_into_id", lit(null).cast("long"))
  }

  /** PDF full texts (TEI) of funded works: a funder block and a
    * funding statement naming the award. */
  def grobid(ws: DataFrame): DataFrame = ws.filter(col("funder").isNotNull)
    .select(col("doi").as("native_id"), lit("doi").as("native_id_namespace"),
      col("updated").as("created_date"),
      concat(lit("<TEI><funder><orgName>"),
        element_at(arr(Vocab.funders), col("funder") + 1),
        lit("</orgName></funder><div type=\"funding\"><p>Supported by the "),
        element_at(arr(Vocab.funders), col("funder") + 1), lit(" under grant AWD-"),
        col("funder").cast("string"), lit("-"), pmod(col("w"), lit(997)).cast("string"),
        lit(".</p></div><div type=\"acknowledgement\">We thank "),
        element_at(arr(Vocab.words), pickIdx(W, col("w"), k(40))),
        lit(".</div></TEI>")).as("xml_content"))

  // ── curation corpus

  /** Documents for the training-data funnel. Planted: exact-duplicate
    * groups (same text, URL variants), near-duplicate clusters (a few
    * words edited), a hot boilerplate paragraph, PII, repetitive junk,
    * and distinct sentinel documents that must survive. Sentinels carry
    * no shared boilerplate (newsletter line, e-mail phrase): three
    * shared word trigrams with a benchmark document already count as
    * contamination. */
  def documents(): DataFrame = {
    val d = col("id")
    val kind = when(pmod(d, lit(20)) === 0, "exact")
      .when(pmod(d, lit(20)) === 1, "near")
      .when(pmod(d, lit(50)) === 7, "junk")
      .when(pmod(d, lit(10)) === 3, "sentinel")
      .otherwise("plain")
    // exact copies share the text of their group root; near copies
    // share it except for edited words
    val root = when(kind.isin("exact", "near"), floor(d / 200)).otherwise(d + (1L << 40))
    val nPara = pmod(h(root, k(50)), lit(3)) + 2
    val body = concat_ws("\n\n", transform(sequence(lit(0), nPara - 1), j =>
      wordsOf(pmod(h(root, k(51), j), lit(20)) + 25, root, k(52), j)))
    // one leading word shifts every 10-token chunk, so a near copy has
    // no duplicate chunk but almost all of its shingles
    val edited = when(kind === "near", concat(wordsOf(lit(1), d, k(53)), lit(" "), body))
      .otherwise(body)
    val boiler = lit("Subscribe to our newsletter for weekly updates on every new post and article we publish here today")
    val text = when(kind === "junk", concat_ws(" ", array_repeat(lit("buy now cheap"), 40)))
      .when(kind === "plain" && pmod(d, lit(7)) === 0, concat(edited, lit("\n\n"), boiler))
      .when(kind === "plain" && pmod(d, lit(11)) === 0, concat(edited,
        lit(" contact me at user"), d.cast("string"), lit("@example.com")))
      .otherwise(edited)
    val url = when(kind === "exact", concat(
        when(pmod(d, lit(3)) === 0, lit("https://WWW.")).otherwise(lit("http://")),
        lit("site"), pmod(root, lit(40)).cast("string"), lit(".example.com/p"),
        root.cast("string"),
        when(pmod(d, lit(3)) === 1, lit("?utm_source=x&b=2&a=1")).otherwise(lit("?a=1&b=2"))))
      .otherwise(concat(lit("https://site"), pmod(d, lit(40)).cast("string"),
        lit(".example.com/doc/"), d.cast("string")))
    spark.range(0, sz.docs, 1, 4).select(
      d.as("doc_id"),
      element_at(arr(Vocab.sources),
        (floor(pow(u(d, k(54)), 2.0) * Vocab.sources.size) + 1).cast("int")).as("source"),
      text.as("text"), url.as("url"), kind.as("kind"), root.as("root"))
      .withColumn("n_chars", length(col("text")))
      .withColumn("n_tokens", size(split(col("text"), "\\s+")))
  }
}

/** Ground truth the generator planted, read back as plain counts. */
object Truth {
  def of(df: DataFrame, cols: (String, Column)*): Map[String, Long] = {
    val r = df.agg(cols.head._2.as(cols.head._1), cols.tail.map { case (n, c) => c.as(n) }: _*).head()
    cols.map(_._1).map(n => n -> Option(r.getAs[Any](n)).map(_.toString.toLong).getOrElse(0L)).toMap
  }
}
