package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Incremental
import graft.entities.InstitutionsApi

/** Semantics pins for the Institutions API build — the oracle (q89)
  * cross-checks the full assembly against DuckDB; these tests pin the
  * behaviors a shared-fixture oracle could mirror-break: the reference's
  * non-deduplicated aggregate grain, the keep-all-but-top-funder roles
  * dedup with NULLS LAST ranking, the super-system lineage filter with
  * string-sorted URLs, the prefer-non-funder ROR type lookup, and the
  * hash-gate stamping branches. */
class InstitutionsApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (work_id, instIds, cited, py) → works rows; instIds like "5,5,7"
    * yields one authorship per listed institution (so "5,5" is the
    * double-affiliation case); py 0 is a work without a publication
    * year. */
  private def mkWorks(rows: Seq[(Long, String, Int, Int)]): DataFrame =
    rows.toDF("wid", "insts", "cited", "py")
      .selectExpr(
        "wid AS id", "NULLIF(py, 0) AS publication_year",
        "CAST(NULL AS DATE) AS publication_date", "cited AS cited_by_count",
        "named_struct('is_oa', wid % 2 = 0) AS open_access",
        "CAST(NULL AS ARRAY<STRUCT<id:STRING,display_name:STRING," +
          "subfield:STRING,field:STRING,domain:STRING,score:DOUBLE>>) " +
          "AS topics",
        "transform(split(insts, ','), x -> named_struct('institutions', " +
          "array(named_struct('id', concat('https://openalex.org/I', x))))) " +
          "AS authorships")

  /** The full assembly over registry rows `ids` with every optional
    * input empty. */
  private def api(ids: Seq[Long], wb: DataFrame): DataFrame =
    InstitutionsApi.assemble(
      ids.map(i => (i, Option.empty[Long])).toDF("id", "merge_into_id")
        .selectExpr("id", "CAST(NULL AS STRING) AS ror_id",
          "concat('Inst ', id) AS display_name",
          "'US' AS iso3166_code", "'education' AS type",
          "CAST(NULL AS STRING) AS official_page",
          "CAST(NULL AS STRING) AS image_url",
          "CAST(NULL AS STRING) AS image_thumbnail_url",
          "CAST(NULL AS ARRAY<STRING>) AS display_name_acronyms",
          "CAST(NULL AS ARRAY<STRING>) AS display_name_alternatives",
          "CAST(NULL AS STRING) AS city",
          "CAST(NULL AS BIGINT) AS geonames_city_id",
          "CAST(NULL AS STRING) AS region",
          "CAST(NULL AS STRING) AS country",
          "CAST(NULL AS DOUBLE) AS latitude",
          "CAST(NULL AS DOUBLE) AS longitude",
          "CAST(NULL AS STRING) AS grid_id",
          "CAST(NULL AS STRING) AS wiki_page",
          "CAST(NULL AS STRING) AS wikidata_id",
          "DATE '2020-01-01' AS created_date", "merge_into_id"),
      Seq.empty[(String, String)].toDF("id", "status"),
      Seq.empty[(Long, Seq[Long])].toDF("institution_id", "lineage_ids"),
      Seq(777L), wb,
      Seq.empty[(String, String)].toDF("id_1", "id_2"),
      Seq.empty[(String, Int)].toDF("entity_id", "works_count"),
      Seq.empty[(Long, String, Option[Long], String, Option[Long])]
        .toDF("id", "display_name", "institution_id", "type",
          "merge_into_id"),
      Seq.empty[(String, String, String)].toDF("ror_id", "related_ror_id",
        "relationship_type"),
      Seq.empty[(String, String)].toDF("ror_id", "type"),
      Seq.empty[(String, String)].toDF("ror_id", "label"),
      Seq.empty[(String, String)].toDF("ror_id", "alias"),
      recentYearMin = 2023)

  test("worksBase/mainAgg: the reference's non-deduplicated grain — " +
    "double affiliation doubles citations but not works_count") {
    // I8 has no works; I9's works all lack a publication year
    val wb = InstitutionsApi.worksBase(mkWorks(Seq(
      (1L, "5,5", 10, 2020), (2L, "5", 4, 2020), (3L, "7", 2, 2024),
      (4L, "9", 11, 0), (5L, "9", 1, 0))))
    assert(wb.count() == 6) // w1 contributes TWO rows for I5
    val out = api(Seq(5L, 8L, 9L), wb)
      .select("works_count", "cited_by_count", "summary_stats",
        "counts_by_year")
      .orderBy("id").collect()
    def summary(r: Row) = {
      val s = r.getStruct(2); (s.getDouble(0), s.getInt(1), s.getInt(2))
    }
    // works_count distinct = 2; citations 10+10+4 = 24; i10 counts the
    // duplicated 10 twice; h over [10,10,4] = 3
    assert(out(0).getInt(0) == 2 && out(0).getInt(1) == 24)
    assert(summary(out(0)) == ((0.0, 3, 2)))
    // the year bucket counts the double-affiliated work once
    assert(out(0).getSeq[Row](3).map(r => (r.getInt(0), r.getInt(1),
      r.getInt(3))) == Seq((2020, 2, 14)))
    assert(out(1).getInt(0) == 0 && out(1).getInt(1) == 0)
    assert(summary(out(1)) == ((0.0, 0, 0)) && out(1).getSeq[Row](3).isEmpty)
    assert(out(2).getInt(0) == 2 && out(2).getInt(1) == 12)
    assert(summary(out(2)) == ((0.0, 1, 1)) && out(2).getSeq[Row](3).isEmpty)
  }

  test("countsByYear: DISTINCT pair grain and the 2010 floor") {
    val wb = InstitutionsApi.worksBase(mkWorks(Seq(
      (1L, "5,5", 10, 2015), (2L, "5", 4, 2009))))
    val cby = api(Seq(5L), wb).select("counts_by_year").head().getSeq[Row](0)
    // the 2009 work is dropped by the floor; the 2015 duplicate pair
    // dedups → works_count 1, cited 10 (not 20)
    assert(cby.map(r => (r.getInt(0), r.getInt(1), r.getInt(3))) ==
      Seq((2015, 1, 10)))
  }

  test("roles: top-funder-only dedup, NULLS LAST works_count ranking, " +
    "non-funder duplicates retained") {
    val inst = Seq((5L, Option.empty[Long])).toDF("id", "merge_into_id")
    val links = Seq(
      ("I5", "F1"), ("F2", "I5"), ("I5", "F3"), // three funders
      ("I5", "P1"), ("I5", "P1"), // duplicate publisher rows survive
      ("I5", "X9")).toDF("id_1", "id_2") // non-P/F dropped
    val counts = Seq(("F1", 10), ("P1", 3)).toDF("entity_id", "works_count")
    // F2/F3 have no counts row → NULL ranks last; F1 wins
    val own = Seq((5L, 1)).toDF("institution_id", "works_count")
    val r = InstitutionsApi.roles(inst, links, own, counts).collect()(0)
      .getSeq[Row](1).map(x => (x.getString(0), x.getString(1), x.getInt(2)))
    assert(r == Seq(
      ("funder", "https://openalex.org/F1", 10),
      ("institution", "https://openalex.org/I5", 1),
      ("publisher", "https://openalex.org/P1", 3),
      ("publisher", "https://openalex.org/P1", 3)))
  }

  test("assemble: super-system lineage filter, string-sorted URLs, " +
    "prefer-non-funder ROR type, alt-name dedup, status default") {
    val inst = Seq(
      (3L, Some("https://ror.org/0r3"), "Inst 3", "US", "education",
        Some(Seq("Alt 3")), None: Option[Long]),
      (9L, Some("https://ror.org/0r9"), "Inst 9", "DE", "facility",
        None, None: Option[Long]))
      .toDF("id", "ror_id", "display_name", "iso3166_code", "type",
        "display_name_alternatives", "merge_into_id")
      .selectExpr("id", "ror_id", "display_name", "iso3166_code", "type",
        "CAST(NULL AS STRING) AS official_page",
        "CAST(NULL AS STRING) AS image_url",
        "CAST(NULL AS STRING) AS image_thumbnail_url",
        "CAST(NULL AS ARRAY<STRING>) AS display_name_acronyms",
        "display_name_alternatives", "CAST(NULL AS STRING) AS city",
        "CAST(NULL AS BIGINT) AS geonames_city_id",
        "CAST(NULL AS STRING) AS region", "CAST(NULL AS STRING) AS country",
        "CAST(NULL AS DOUBLE) AS latitude",
        "CAST(NULL AS DOUBLE) AS longitude",
        "CAST(NULL AS STRING) AS grid_id",
        "CAST(NULL AS STRING) AS wiki_page",
        "CAST(NULL AS STRING) AS wikidata_id",
        "DATE '2020-01-01' AS created_date", "merge_into_id")
    val ror = Seq(("https://ror.org/0r9", "inactive")).toDF("id", "status")
    val anc = Seq((3L, Seq(103L, 777L))).toDF("institution_id", "lineage_ids")
    val empty = Seq.empty[(String, String)].toDF("id_1", "id_2")
    val counts = Seq.empty[(String, Int)].toDF("entity_id", "works_count")
    val srcs = Seq.empty[(Long, String, Option[Long], String, Option[Long])]
      .toDF("id", "display_name", "institution_id", "type", "merge_into_id")
    val rel = Seq(("0r3", "0r9", "Parent")).toDF("ror_id", "related_ror_id",
      "relationship_type")
    val rtypes = Seq(("0r9", "Funder"), ("0r9", "Archive"))
      .toDF("ror_id", "type")
    val labels = Seq(("0r3", "Alt 3"), ("0r3", "B Label"))
      .toDF("ror_id", "label")
    val aliases = Seq.empty[(String, String)].toDF("ror_id", "alias")
    val wb = InstitutionsApi.worksBase(mkWorks(Seq((1L, "3", 2, 2020))))
    val api = InstitutionsApi.assemble(inst, ror, anc, Seq(777L), wb, empty,
      counts, srcs, rel, rtypes, labels, aliases, recentYearMin = 2023)
      .orderBy("id").collect()
    val i3 = api(0); val i9 = api(1)
    val cols = api(0).schema.fieldNames.zipWithIndex.toMap
    // 777 filtered from lineage; "I103" sorts BEFORE "I3" as a string
    assert(i3.getSeq[String](cols("lineage")) ==
      Seq("https://openalex.org/I103", "https://openalex.org/I3"))
    // label dedups against the registry's own "Alt 3"
    assert(i3.getSeq[String](cols("display_name_alternatives")) ==
      Seq("Alt 3", "B Label"))
    // Archive beats Funder in the type lookup; relationship lowercased
    val assoc = i3.getSeq[Row](cols("associated_institutions"))
    assert(assoc.map(r => (r.getString(4), r.getString(5))) ==
      Seq(("archive", "parent")))
    // no ror row for 0r3 → default active; 0r9 has inactive
    assert(i3.getString(cols("status")) == "active")
    assert(i9.getString(cols("status")) == "inactive")
    // no works for I9 → zeroed summary struct and counts
    assert(i9.getInt(cols("works_count")) == 0)
    assert(i9.getStruct(cols("summary_stats")).getInt(1) == 0)
  }

  test("stampUpdatedDate: new and changed rows get now; unchanged keep") {
    def gen(rows: Seq[(Long, Int)]): DataFrame =
      api(Seq(5L, 6L), InstitutionsApi.worksBase(mkWorks(
        rows.map { case (w, i) => (w, i.toString, 1, 2020) })))
    val prev = Incremental.hashSnapshot(
      gen(Seq((1L, 5), (2L, 6)))
        .withColumn("updated_date", lit("2024-01-01").cast("timestamp")),
      InstitutionsApi.contentKey)
    // I5 gains a work → changed; I6 unchanged
    val out = Incremental.stampUpdatedDate(
      gen(Seq((1L, 5), (3L, 5), (2L, 6))), prev,
      InstitutionsApi.contentKey, lit("2024-02-02").cast("timestamp"))
      .select(col("id"), date_format(col("updated_date"), "yyyy-MM-dd"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((5L, "2024-02-02"), (6L, "2024-01-01")))
  }
}
