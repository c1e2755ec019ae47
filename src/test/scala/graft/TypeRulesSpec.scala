package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.works.TypeRules

/** Tier-by-tier parity corpus for the full 163-rule cascade + dict
  * fallback + preprint-registrant + ingest-preserve final selection
  * (CreateLocationsWithTypes.sql). Each case pins one rule (or one
  * fallback path) with the inputs that reach it. */
final case class Loc(
  title: String = null, raw_type: String = null, cr_type: String = null,
  cr_subtype: String = null, source_name: String = null, cr_container: String = null,
  issue: String = null, first_page: String = null, n_refs: Int = 0,
  single_page: Boolean = false, has_abstract: Boolean = false,
  is_retracted: Boolean = false, oa_type: String = null, page_title: String = null,
  abstract_text: String = null, resolved_url: String = null, meta: Seq[String] = null,
  doi: String = null, source_type: String = null, has_journal: Boolean = false,
  provenance: String = "crossref", ingest_type: String = null,
  preprint_registrant: Boolean = false, expect: String = "article")

class TypeRulesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    // tier: retraction / erratum / peer-review signals
    Loc(title = "Retraction: flawed data", expect = "retraction"),
    Loc(title = "Withdrawn at author request", is_retracted = true, expect = "retraction"),
    Loc(title = "Correction to: earlier work", expect = "erratum"),
    Loc(title = "Decision letter for submission 42", expect = "peer-review"),
    Loc(raw_type = "Peer-Review", expect = "peer-review"), // rawnorm
    // tier: explicit crossref types + subtype
    Loc(cr_type = "dissertation", expect = "dissertation"),
    Loc(cr_type = "reference-book", expect = "reference-entry"),
    Loc(cr_type = "standard", expect = "standard"),
    Loc(cr_type = "report-component", expect = "report"),
    Loc(cr_subtype = "preprint", cr_type = "posted-content", expect = "preprint"),
    // tier: URL hosts
    Loc(resolved_url = "https://osf.io/abc123", expect = "preprint"),
    Loc(resolved_url = "https://www.rcsb.org/structure/1ABC", expect = "dataset"),
    Loc(resolved_url = "https://cran.r-project.org/package=x", raw_type = "software",
      expect = "software"),
    Loc(resolved_url = "https://theses.fr/2020ABC", expect = "dissertation"),
    Loc(resolved_url = "https://www.oed.com/view/Entry/1", expect = "reference-entry"),
    Loc(resolved_url = "https://www.morressier.com/article/x", expect = "conference-abstract"),
    // tier: source-name exact + contains
    Loc(source_name = "Endocrine Abstracts", expect = "conference-abstract"),
    Loc(source_name = "Who's Who", expect = "reference-entry"),
    Loc(source_name = "SSRN Electronic Journal", expect = "preprint"),
    Loc(source_name = "Data in Brief", expect = "data-paper"),
    Loc(source_name = "SoftwareX", expect = "software-paper"),
    Loc(source_name = "ECS Transactions", expect = "conference-paper"),
    Loc(source_name = "Choice Reviews Online", expect = "book-review"),
    Loc(source_name = "Synfacts", expect = "editorial"),
    Loc(source_name = "bioRxiv", expect = "preprint"),
    Loc(source_name = "Encyclopedia of Materials", expect = "reference-entry"),
    Loc(cr_container = "SPIE Proceedings Vol 12", expect = "conference-paper"),
    Loc(source_name = "GISAID", expect = "dataset"),
    // tier: doi/url + meta signals
    Loc(doi = "10.1000/jama.meetingabstracts.55", expect = "conference-abstract"),
    Loc(resolved_url = "https://link.example/referenceworkentry/99",
      expect = "reference-entry"),
    Loc(resolved_url = "https://repo.uni.edu/dissertations/55", source_type = "repository",
      expect = "dissertation"),
    Loc(meta = Seq("<meta name=\"citation_conference_date\" content=\"2020-01-01\">"),
      expect = "conference-abstract"),
    Loc(meta = Seq("<meta name=\"citation_conference_abbrev\" content=\"ICML\">"),
      expect = "conference-paper"),
    Loc(meta = Seq("<meta name=\"dc.type\" content=\"book review\">"),
      expect = "book-review"),
    Loc(meta = Seq("<meta name=\"dc.type\" content=\"Doctoral Dissertation\">"),
      expect = "dissertation"),
    Loc(meta = Seq("<meta name=\"citation_article_type\" content=\"article-commentary\">"),
      expect = "editorial"),
    Loc(page_title = "Reply to reviewers", expect = "letter"),
    // tier: title shapes
    Loc(title = "Supplementary Table 1: extended results", expect = "supplementary-materials"),
    Loc(title = "Table of Contents", expect = "paratext"),
    Loc(title = "Issue Information - masthead page", expect = "paratext"),
    Loc(title = "Notes", expect = "paratext"),
    Loc(title = "Program Committee", expect = "paratext"),
    Loc(title = "Index to Volume 12", expect = "paratext"),
    Loc(title = "pyMagic: a Python package for magic", expect = "software-paper"),
    Loc(title = "DIN EN 10025 structural steel", expect = "standard"),
    Loc(title = "Book Review: The Long Century", expect = "book-review"),
    Loc(title = "Guest Editorial: new horizons", expect = "editorial"),
    Loc(title = "Letter to the Editor concerning X", expect = "letter"),
    Loc(title = "Treatment efficacy: a narrative review update", expect = "review"),
    Loc(title = "Re: statistical concerns", expect = "letter"),
    Loc(title = "Discussion of prior findings", expect = "editorial"),
    Loc(title = "Data for measuring glacial retreat", expect = "dataset"),
    Loc(title = "Outcomes: a systematic literature review", expect = "review"),
    Loc(title = "In memoriam: Prof. X", expect = "other"),
    Loc(title = "Abstract P-42: enzyme kinetics", expect = "conference-abstract"),
    // tier: abstract-shape + issue heuristics
    Loc(issue = "Suppl 2", single_page = true, expect = "conference-abstract"),
    Loc(raw_type = "journal-article", issue = "s4", single_page = true, n_refs = 0,
      expect = "conference-abstract"),
    Loc(abstract_text = "This data article describes the survey files.",
      expect = "data-paper"),
    Loc(abstract_text = "Reviewed by Prof. Chen.", expect = "book-review"),
    Loc(source_name = "Lecture Notes in Computer Science", n_refs = 0,
      single_page = true, has_abstract = true, expect = "conference-abstract"),
    Loc(source_name = "Lecture Notes in Computer Science", n_refs = 12,
      expect = "conference-paper"),
    Loc(source_name = "Scientific Data", expect = "data-paper"),
    Loc(source_name = "Journal of Physics: Conference Series", n_refs = 9,
      expect = "conference-paper"),
    Loc(title = "p-1234 effects of heat", raw_type = "journal-article", n_refs = 0,
      expect = "conference-abstract"),
    Loc(title = "Burnout interventions: a systematic review", n_refs = 31,
      expect = "review"),
    Loc(oa_type = "review", n_refs = 30, has_abstract = true, expect = "review"),
    Loc(source_name = "IEEE Conference on Computer Vision", n_refs = 20,
      expect = "conference-paper"),
    Loc(source_name = "International Symposium on Circuits", n_refs = 0,
      single_page = true, has_abstract = true, expect = "conference-abstract"),
    Loc(raw_type = "proceedings-article", n_refs = 15, expect = "conference-paper"),
    Loc(cr_type = "journal-issue", expect = "paratext"),
    Loc(cr_type = "edited-book", expect = "book"),
    // tier: raw-type dictionary-ish rules
    Loc(raw_type = "reference-entry", expect = "reference-entry"),
    Loc(title = "Methods over decades: a review", n_refs = 25, expect = "review"),
    Loc(title = "Impact of diet: a meta-analysis", n_refs = 40, expect = "review"),
    Loc(raw_type = "info:eu-repo/semantics/conferenceObject", expect = "conference-paper"),
    Loc(raw_type = "info:eu-repo/semantics/doctoralThesis", expect = "dissertation"),
    Loc(raw_type = "info:eu-repo/semantics/article", expect = "article"),
    Loc(raw_type = "Master's Thesis", expect = "dissertation"),
    Loc(raw_type = "Väitöskirja (doctoral)", expect = "dissertation"),
    Loc(raw_type = "book_part", expect = "book-chapter"), // rawnorm bookpart
    Loc(raw_type = "Research Report", expect = "report"), // rawnorm
    Loc(raw_type = "figure", expect = "supplementary-materials"),
    Loc(raw_type = "software", expect = "software"),
    Loc(raw_type = "image", expect = "other"), // rawnorm image tier
    Loc(raw_type = "Monografía", expect = "book"),
    Loc(raw_type = "preprint", source_type = "repository", expect = "preprint"),
    Loc(raw_type = "preprint", source_type = "journal", source_name = "nature",
      provenance = "crossref", expect = "article"), // guard blocks; crossref dict has no 'preprint'
    Loc(raw_type = "book-section", expect = "reference-entry"),
    Loc(raw_type = "dataset", expect = "dataset"),
    Loc(raw_type = "posted-content", expect = "other"),
    Loc(raw_type = "proceedings", title = "proceedings of the 5th meeting",
      expect = "paratext"),
    // final selection: dict fallback / ingest preserve / preprint registrant
    Loc(raw_type = "chemical structures", provenance = "repo", expect = "other"),
    Loc(raw_type = "acceptedVersion", provenance = "repo", expect = "article"),
    Loc(raw_type = "doc-type:bookpart", provenance = "repo", expect = "book-chapter"),
    Loc(ingest_type = "report", expect = "report"),
    Loc(title = "Plain paper", preprint_registrant = true, expect = "preprint"),
    Loc(title = "A perfectly ordinary empirical study", n_refs = 18,
      has_abstract = true, expect = "article"),
    // subtype over a journal type, a bare masthead title, a raw
    // (non-crossref) dissertation type
    Loc(title = "Plain", cr_type = "journal-article", cr_subtype = "preprint",
      source_type = "journal", n_refs = 5, has_abstract = true, expect = "preprint"),
    Loc(title = "Masthead", single_page = true, source_name = "some journal",
      source_type = "journal", expect = "paratext"),
    Loc(title = "Plain", raw_type = "dissertation", expect = "dissertation"))

  test("full cascade + fallbacks: one pinned verdict per corpus row") {
    val df = corpus.toDF().withColumnRenamed("abstract_text", "abstract")
    val out = TypeRules.finalType(TypeRules.features(df))
      .select("title", "raw_type", "source_name", "expect", "type", "classified_rule")
      .collect()
    val bad = out.filter(r => r.getAs[String]("type") != r.getAs[String]("expect"))
    assert(bad.isEmpty, bad.map(r =>
      s"\n[${r.getAs[String]("title")}|${r.getAs[String]("raw_type")}|" +
        s"${r.getAs[String]("source_name")}] got ${r.getAs[String]("type")} " +
        s"(rule ${r.getAs[String]("classified_rule")}) want ${r.getAs[String]("expect")}")
      .mkString("; "))
  }

  test("rule count reaches the reference cascade size") {
    assert(TypeRules.fullRules.size == 163)
    assert(TypeRules.dictEntries.size == 221)
  }

}
