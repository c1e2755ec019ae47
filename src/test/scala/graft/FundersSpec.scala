package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.entities.Funders

class FundersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("workFunders: prefix filter drops ror/null ids and null arrays") {
    val works = Seq(
      ("1", Seq("https://openalex.org/F7", "https://ror.org/02x")),
      ("2", Seq("https://openalex.org/F7", "https://openalex.org/F9")),
      ("3", Seq(null.asInstanceOf[String])),
      ("4", null.asInstanceOf[Seq[String]]))
      .toDF("id", "fids")
      .select(col("id"), transform(col("fids"),
        f => struct(f.as("id"))).as("funders"))
    val edges = Funders.workFunders(works)
      .orderBy("work_id", "funder_id")
      .as[(Long, Long)].collect()
    assert(edges.toSeq == Seq((7L, 1L), (7L, 2L), (9L, 2L)))
  }

  test("roles: F-side routing, F-F links dropped, works_count-desc dedup") {
    val funderIds = Seq(1L, 2L).toDF("funder_id")
    // F1 links two institutions (dedup keeps higher count), F2 sits on
    // id_2 (publisher side) plus an F-F link that must vanish.
    val links = Seq(
      ("F1", "I10"), ("F1", "I11"), ("P5", "F2"), ("F2", "F1"))
      .toDF("id_1", "id_2")
    val fCounts = Seq((1L, 100), (2L, 50)).toDF("funder_id", "works_count")
    val iCounts = Seq(("I10", 3), ("I11", 8)).toDF("entity_id", "works_count")
    val pCounts = Seq(("P5", 6)).toDF("entity_id", "works_count")
    val out = Funders.roles(funderIds, links, fCounts, iCounts, pCounts)
      .orderBy("funder_id").collect()
    val r1 = out(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(r1 == Seq(
      ("funder", "https://openalex.org/F1", 100),
      ("institution", "https://openalex.org/I11", 8)))
    val r2 = out(1).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(r2 == Seq(
      ("funder", "https://openalex.org/F2", 50),
      ("publisher", "https://openalex.org/P5", 6)))
  }

  test("countsByYear: newest-first buckets with distinct work counts") {
    // F1 lists work 10 twice; F2 has no works; F3's works all lack a
    // publication year
    val wfe = Seq(
      (1L, 10L, Option(2020), 4, true), (1L, 10L, Option(2020), 4, true),
      (1L, 11L, Option(2020), 2, false), (1L, 12L, Option(2021), 9, true),
      (3L, 30L, None, 12, false))
      .toDF("funder_id", "work_id", "pub_year", "cited_by_count", "is_oa")
    val funders = Seq(1L, 2L, 3L).toDF("funder_id").selectExpr("funder_id",
      "concat('F', funder_id) AS display_name",
      "CAST(NULL AS STRING) AS alternate_titles",
      "CAST(NULL AS STRING) AS country_code",
      "CAST(NULL AS STRING) AS description",
      "CAST(NULL AS STRING) AS homepage_url",
      "CAST(NULL AS STRING) AS image_url",
      "CAST(NULL AS STRING) AS image_thumbnail_url",
      "CAST(NULL AS STRING) AS ror_id", "CAST(NULL AS STRING) AS wikidata_id",
      "CAST(NULL AS STRING) AS crossref_id", "CAST(NULL AS STRING) AS doi",
      "CAST(NULL AS BIGINT) AS merge_into_id")
    val noCounts = Seq.empty[(String, Int)].toDF("entity_id", "works_count")
    val out = Funders.assemble(funders, wfe,
        Seq.empty[Long].toDF("funder_id"),
        Seq.empty[(String, String)].toDF("id_1", "id_2"), noCounts, noCounts,
        recentYearMin = 2021)
      .select("works_count", "cited_by_count", "summary_stats",
        "counts_by_year")
      .orderBy("id").collect()
    val rows = out(0).getSeq[org.apache.spark.sql.Row](3)
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // the repeated edge counts the work once but its flags and
    // citations per edge, in the year buckets and in the totals
    assert(rows == Seq((2021, 1, 1, 9), (2020, 2, 2, 10)))
    assert(out(0).getInt(0) == 3 && out(0).getInt(1) == 19)
    val s1 = out(0).getStruct(2)
    assert(s1.getDouble(0) == 9.0 && s1.getInt(1) == 3 && s1.getInt(2) == 0)
    // no works: zero counts, NULL h_index, NULL counts_by_year
    val s2 = out(1).getStruct(2)
    assert(out(1).getInt(0) == 0 && out(1).getInt(1) == 0)
    assert(s2.getDouble(0) == 0.0 && s2.isNullAt(1) && s2.getInt(2) == 0)
    assert(out(1).isNullAt(3))
    // no publication years: counted, but no year bucket
    assert(out(2).getInt(0) == 1 && out(2).getStruct(2).getInt(1) == 1)
    assert(out(2).isNullAt(3))
  }
}
