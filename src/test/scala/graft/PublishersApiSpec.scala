package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.entities.PublishersApi

/** Semantics pins for the Publishers API build (oracle: q90) — the
  * behaviors specific to this entity vs the institutions sibling: the
  * DISTINCT pair grain, the NULL-h-index-when-no-works asymmetry the
  * reference's summary_stats struct carries, the 2014/yearMax
  * counts_by_year bounds, and from_json null-on-malformed parsing. */
class PublishersApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (work_id, publisherIds "5,5,7", cited, py) → works rows; py 0 is
    * a work without a publication year. */
  private def mkWorks(rows: Seq[(Long, String, Int, Int)]): DataFrame =
    rows.toDF("wid", "pubs", "cited", "py")
      .selectExpr("wid AS id", "NULLIF(py, 0) AS publication_year",
        "cited AS cited_by_count",
        "transform(split(pubs, ','), x -> named_struct('source', " +
          "named_struct('host_organization', " +
          "concat('https://openalex.org/P', x)))) AS locations")

  private def mkReg(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, Option.empty[Long])).toDF("id", "merge_into_id")
      .selectExpr("id", "concat('Pub ', id) AS display_name",
        "CASE WHEN id = 9 THEN '[\"A\"]' " +
          "WHEN id = 7 THEN 'not json' END AS alternate_titles",
        "CAST(NULL AS STRING) AS country_codes",
        "CAST(0 AS INT) AS hierarchy_level",
        "CAST(NULL AS STRUCT<id:STRING>) AS parent_publisher",
        "CAST(NULL AS STRING) AS ror_id",
        "CAST(NULL AS STRING) AS image_url",
        "CAST(NULL AS STRING) AS image_thumbnail_url",
        "CAST(NULL AS STRING) AS wikidata_id",
        "CAST(NULL AS STRING) AS homepage_url",
        "DATE '2020-01-01' AS created_date", "merge_into_id")

  private val noLinks = Seq.empty[(String, String)].toDF("id_1", "id_2")
  private val noCounts =
    Seq.empty[(String, Int)].toDF("entity_id", "works_count")

  test("workPairs dedups duplicate hosts; non-P hosts dropped") {
    val works = Seq((1L, "5,5", 2, 2020)).toDF("wid", "pubs", "cited", "py")
      .selectExpr("wid AS id", "py AS publication_year",
        "cited AS cited_by_count",
        "array(named_struct('source', named_struct('host_organization', " +
          "'https://openalex.org/P5')), named_struct('source', " +
          "named_struct('host_organization', 'https://openalex.org/P5'))," +
          " named_struct('source', named_struct('host_organization', " +
          "'https://openalex.org/I9')), named_struct('source', " +
          "named_struct('host_organization', CAST(NULL AS STRING)))) " +
          "AS locations")
    val pairs = PublishersApi.workPairs(works).collect()
    assert(pairs.length == 1 && pairs(0).getLong(1) == 5L)
  }

  test("summary_stats: h_index NULL when the publisher has no works " +
    "(the reference's uncoalesced ARRAY_MAX), mean/i10 zeroed") {
    val api = PublishersApi.assemble(mkReg(Seq(5L, 6L)),
      PublishersApi.workPairs(mkWorks(Seq((1L, "5", 12, 2023)))),
      noLinks, noCounts, recentYearMin = 2022, yearMax = 2024)
      .orderBy("id").collect()
    val s5 = api(0).getStruct(api(0).fieldIndex("summary_stats"))
    val s6 = api(1).getStruct(api(1).fieldIndex("summary_stats"))
    assert(s5.getDouble(0) == 12.0 && s5.getInt(1) == 1 && s5.getInt(2) == 1)
    assert(s6.getDouble(0) == 0.0 && s6.isNullAt(1) && s6.getInt(2) == 0)
    // the publisher with no works: bigint zero counts, [] counts_by_year
    assert(api(1).getLong(api(1).fieldIndex("works_count")) == 0L)
    assert(api(1).getLong(api(1).fieldIndex("cited_by_count")) == 0L)
    assert(api(1).getSeq[Row](api(1).fieldIndex("counts_by_year")).isEmpty)
  }

  test("counts_by_year bounds: below-2014 and above-yearMax years kept " +
    "in totals but cut from the year array") {
    val api = PublishersApi.assemble(mkReg(Seq(5L, 8L)),
      PublishersApi.workPairs(mkWorks(Seq(
        (1L, "5", 1, 2013), (2L, "5", 2, 2015), (3L, "5", 3, 2022),
        (4L, "8", 11, 0), (5L, "8", 4, 0)))),
      noLinks, noCounts, recentYearMin = 2022, yearMax = 2021)
      .orderBy("id").collect()
    assert(api(0).getLong(api(0).fieldIndex("works_count")) == 3L)
    val cby = api(0).getSeq[Row](api(0).fieldIndex("counts_by_year"))
    assert(cby.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))) ==
      Seq((2015, 1L, 2L)))
    // works that all lack a publication year: counted, no year bucket
    val p8 = api(1)
    assert(p8.getLong(p8.fieldIndex("works_count")) == 2L)
    assert(p8.getLong(p8.fieldIndex("cited_by_count")) == 15L)
    assert(p8.getStruct(p8.fieldIndex("summary_stats")).getInt(1) == 2)
    assert(p8.getSeq[Row](p8.fieldIndex("counts_by_year")).isEmpty)
  }

  test("from_json registry parsing: malformed JSON → null array") {
    val api = PublishersApi.assemble(mkReg(Seq(7L, 9L)),
      PublishersApi.workPairs(mkWorks(Nil)), noLinks, noCounts,
      recentYearMin = 2022, yearMax = 2024).orderBy("id").collect()
    assert(api(0).isNullAt(api(0).fieldIndex("alternate_titles")))
    assert(api(1).getSeq[String](api(1).fieldIndex("alternate_titles")) ==
      Seq("A"))
  }
}
