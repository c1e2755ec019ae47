package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.serve.SnapshotDocs

/** Pins the snapshot doc-builder scalars against reference-computed
  * expectations (export_works.ipynb cell 3's truncate_abstract_index_
  * string run by hand on each fixture) plus the thin sibling entity
  * docs (export_authors/export_institutions.ipynb). The full works
  * assembly is oracle-gated as q106. */
class SnapshotDocsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def trunc(s: String, maxBytes: Int = 64): Option[String] =
    Seq(Option(s)).toDF("s")
      .select(SnapshotDocs.truncateAbstractIndex(col("s"), maxBytes).as("t"))
      .as[Option[String]].head()

  test("truncateAbstractIndex: null / empty / invalid JSON → null") {
    assert(trunc(null).isEmpty)
    assert(trunc("").isEmpty)
    assert(trunc("not json").isEmpty)
    assert(trunc("{\"a\":").isEmpty)
  }

  test("truncateAbstractIndex: short and under-byte-cap pass-through") {
    // ≤ maxBytes/4 chars (the reference's cheap early exit)
    assert(trunc("""{"a":[1]}""").contains("""{"a":[1]}"""))
    // > maxBytes/4 chars but ≤ maxBytes octets
    val mid = """{"word":[1,2],"w2":[3]}"""
    assert(trunc(mid).contains(mid))
  }

  test("truncateAbstractIndex: ASCII byte cut closes at the last ]") {
    val s = """{"alpha":[1,2,3],"beta":[4,5],"gamma":[6],"delta":[7,8],"epsilon":[9]}"""
    // reference UDF(s, 64) == truncate 64 bytes, rfind(']'), + '}'
    assert(trunc(s).contains(
      """{"alpha":[1,2,3],"beta":[4,5],"gamma":[6],"delta":[7,8]}"""))
  }

  test("truncateAbstractIndex: cut mid-multibyte-char drops the dangling bytes") {
    // 63 ASCII bytes then é (2 bytes) straddling the 64-byte boundary;
    // expected value computed with the reference's Python UDF
    val s = """{"k":[1,2,3],"m":[4,5],"n":[6],"p":[7,8],"q":[9],"r":[10],"sabcéé":[11]}"""
    assert(trunc(s).contains(
      """{"k":[1,2,3],"m":[4,5],"n":[6],"p":[7,8],"q":[9],"r":[10]}"""))
  }

  test("truncateAbstractIndex: no ] survives the cut → null") {
    val s = "{\"" + "x" * 100 + "\":[1]}"
    assert(trunc(s).isEmpty)
  }

  test("sanitizeString caps at maxLen chars; short and null pass through") {
    val out = Seq(Option("x" * 100), Option("short"), Option.empty[String])
      .toDF("s").select(SnapshotDocs.sanitizeString(col("s"), 10))
      .as[Option[String]].collect().toSeq
    assert(out === Seq(Some("x" * 10), Some("short"), None))
    // the 32K default (the search sink's term limit)
    val long = Seq("y" * 40000).toDF("s")
      .select(SnapshotDocs.sanitizeString(col("s"))).as[String].head()
    assert(long.length == 32000)
  }

  test("sanitizeName strips non-LNPSZ chars and collapses whitespace") {
    val out = Seq("Bü\u0007chner\t  Straße ", "a\u0000b")
      .toDF("s").select(SnapshotDocs.sanitizeName(col("s"))).as[String]
      .collect().toSeq
    assert(out === Seq("Büchner Straße", "ab"))
  }

  test("authorsDoc: topic caps, x_concepts re-key, alt-names mirror") {
    val df = Seq(1).toDF("one").selectExpr(
      "CAST(7 AS BIGINT) AS id", "'Ann' AS display_name",
      "CAST(NULL AS ARRAY<STRING>) AS raw_author_names",
      "'Ann P' AS full_name", "CAST(NULL AS STRING) AS orcid",
      "3 AS works_count", "CAST(9 AS BIGINT) AS cited_by_count",
      "named_struct('h_index', 1) AS summary_stats",
      "map('openalex', 'A7') AS ids",
      "CAST(NULL AS ARRAY<STRUCT<institution_id: BIGINT>>) AS affiliations",
      "CAST(NULL AS ARRAY<STRUCT<id: BIGINT>>) AS last_known_institutions",
      "array(named_struct('id', 1), named_struct('id', 2), named_struct('id', 3), named_struct('id', 4), named_struct('id', 5), named_struct('id', 6)) AS topics",
      "CAST(NULL AS ARRAY<STRUCT<id: BIGINT>>) AS topic_share",
      "array(named_struct('id', CAST(41 AS BIGINT), 'wikidata', 'wd41', 'display_name', 'C41', 'col4', 2, 'score', CAST(0.5 AS DOUBLE), 'count', CAST(3 AS BIGINT))) AS x_concepts",
      "CAST(NULL AS ARRAY<STRUCT<id: BIGINT>>) AS sources",
      "CAST(NULL AS ARRAY<STRUCT<year: INT>>) AS counts_by_year",
      "'https://api/works?filter=author.id:A7' AS works_api_url",
      "TIMESTAMP '2024-01-02 00:00:00' AS updated_date",
      "TIMESTAMP '2023-01-02 00:00:00' AS created_date")
    val doc = SnapshotDocs.authorsDoc(df)
    assert(doc.columns.toSeq === Seq("id", "display_name",
      "display_name_alternatives", "raw_author_names", "full_name",
      "orcid", "works_count", "cited_by_count", "summary_stats", "ids",
      "affiliations", "last_known_institutions", "topics", "topic_share",
      "x_concepts", "sources", "counts_by_year", "works_api_url",
      "updated_date", "created_date"))
    val row = doc.selectExpr("id", "size(topics)",
      "x_concepts[0].id", "x_concepts[0].level",
      "size(display_name_alternatives)", "size(affiliations)")
      .as[(String, Int, String, Int, Int, Int)].head()
    assert(row === ("https://openalex.org/A7", 5,
      "https://openalex.org/C41", 2, 0, 0))
  }

  test("entity registry covers the 21 update_meta entities; docFor routes") {
    // update_meta.ipynb's ENTITIES list, verbatim
    val expected = Seq("works", "authors", "institutions", "sources",
      "publishers", "funders", "topics", "subfields", "fields", "domains",
      "concepts", "keywords", "awards", "continents", "countries",
      "institution-types", "languages", "licenses", "sdgs",
      "source-types", "work-types")
    assert(SnapshotDocs.entitySpecs.map(_.name) === expected)
    // only the large entities are salted
    assert(SnapshotDocs.entitySpecs.filter(_.salt).map(_.name) ===
      Seq("works", "authors", "awards"))
    // a path-style topic-hierarchy prefix routes through entityDoc
    val sf = Seq(1).toDF("one").selectExpr("CAST(1010 AS BIGINT) AS id",
      "'SF' AS display_name",
      "CAST(NULL AS ARRAY<STRING>) AS display_name_alternatives",
      "CAST(NULL AS ARRAY<STRUCT<id: STRING>>) AS topics",
      "CAST(NULL AS ARRAY<STRUCT<id: STRING>>) AS siblings")
    val got = SnapshotDocs.docFor("subfields", sf)
      .selectExpr("id", "size(topics)").as[(String, Int)].head()
    assert(got === ("https://openalex.org/subfields/1010", 0))
    // a no-transform common entity passes through minus original_id
    val lang = Seq(("https://openalex.org/languages/en", "English", "x"))
      .toDF("id", "display_name", "original_id")
    assert(SnapshotDocs.docFor("languages", lang).columns.toSeq ===
      Seq("id", "display_name"))
    intercept[IllegalArgumentException] {
      SnapshotDocs.docFor("nope", lang)
    }
  }

  test("institutionsDoc / awardsDoc: prefix, coalesce, internal drop") {
    val inst = Seq(1).toDF("one").selectExpr(
      "CAST(33 AS BIGINT) AS id", "'MIT' AS display_name",
      "CAST(NULL AS ARRAY<BIGINT>) AS lineage",
      "array('MIT') AS display_name_acronyms",
      "CAST(NULL AS ARRAY<STRING>) AS display_name_alternatives",
      "CAST(NULL AS ARRAY<STRUCT<role: STRING>>) AS roles",
      "CAST(NULL AS ARRAY<STRUCT<id: STRING>>) AS repositories",
      "CAST(NULL AS ARRAY<STRUCT<id: STRING>>) AS topics",
      "CAST(NULL AS ARRAY<STRUCT<id: STRING>>) AS topic_share",
      "CAST(NULL AS ARRAY<STRUCT<id: STRING>>) AS associated_institutions",
      "CAST(NULL AS ARRAY<STRUCT<year: INT>>) AS counts_by_year")
    val got = SnapshotDocs.institutionsDoc(inst)
      .selectExpr("id", "size(lineage)", "size(display_name_acronyms)")
      .as[(String, Int, Int)].head()
    assert(got === ("https://openalex.org/I33", 0, 1))

    val aw = Seq(1).toDF("one").selectExpr(
      "CAST(5 AS BIGINT) AS id", "CAST(77 AS BIGINT) AS funder_id",
      "named_struct('id', CAST(77 AS BIGINT)) AS funder",
      "CAST(NULL AS ARRAY<STRING>) AS investigators",
      "CAST(NULL AS ARRAY<BIGINT>) AS funded_outputs",
      "'orig' AS original_id")
    val gotAw = SnapshotDocs.awardsDoc(aw)
    assert(!gotAw.columns.contains("funder_id"))
    assert(!gotAw.columns.contains("original_id"))
    assert(gotAw.selectExpr("id", "size(investigators)")
      .as[(String, Int)].head() === ("https://openalex.org/G5", 0))
  }

  test("native sanitize_name matches the regex-chain spec on a " +
    "Unicode battery") {
    val battery: Seq[String] = Seq(
      "plain title", "  leading and trailing  ", "tabs\tand\nnewlines",
      "double  spaces   runs", "B\u00fcchner\t  Stra\u00dfe ",
      "a\u0000b", "be\u0007ll", "nb\u00a0sp kept",
      "\u00a0nbsp at edges\u00a0", "  \u00a0 mixed edge \u00a0  ",
      "zero\u200bwidth\u200cjoins\u200d", "combining a\u0301 mark",
      "emoji \ud83d\ude00 and math \u2211 and currency \u20ac",
      "CJK \u6f22\u5b57\u304b\u306a\u30ab\u30ca\ud55c\uad6d",
      "RTL \u05e2\u05b4\u05d1 \u0627\u0644\u0639",
      "line\u2028sep\u2029para", "ctrl\u0001\u0002run",
      "mixed \u0003 \t x", "ideographic\u3000space",
      "soft\u00adhyphen", "surrogate pair \ud835\udc9c script A",
      "\ud800 unpaired surrogate", "\u000b\u000c verticals",
      "", " ", "   ", "\t\n", null)
    val out = battery.toDF("s").select(
      SnapshotDocs.sanitizeName(col("s")).as("native"),
      ChainSpecs.sanitizeName(col("s")).as("spec"))
    val bad = out.filter(!(col("native") <=> col("spec"))).collect()
    assert(bad.isEmpty, s"${bad.length} mismatches: ${bad.take(5).toSeq}")
  }
}
