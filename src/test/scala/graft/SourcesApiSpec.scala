package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Incremental
import graft.entities.SourcesApi

/** Semantics pins for the Sources API entity build — the oracle (q75)
  * cross-checks the full assembly against DuckDB; these tests pin the
  * behaviors a shared-fixture oracle could mirror-break (see the
  * object-init-order trap note in AwardQueries): per-work topic dedup,
  * the count-vs-value orderings, h-index fold, lineage routing, and the
  * three stampUpdatedDate branches. */
class SourcesApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val topicT = "ARRAY<STRUCT<id:STRING,display_name:STRING," +
    "subfield:STRING,field:STRING,domain:STRING,score:DOUBLE>>"

  private def t(id: String): String =
    s"named_struct('id','$id','display_name','T$id','subfield','s'," +
      s"'field','f','domain','d','score',0.5D)"
  private val tNull = "named_struct('id',CAST(NULL AS STRING)," +
    "'display_name',CAST(NULL AS STRING),'subfield',CAST(NULL AS STRING)," +
    "'field',CAST(NULL AS STRING),'domain',CAST(NULL AS STRING)," +
    "'score',CAST(NULL AS DOUBLE))"

  /** (work_id, source_id, cited, pub_year, topicsExpr) → works rows;
    * pub_year 0 is a work without a publication year. */
  private def mkWorks(rows: Seq[(Long, Long, Int, Int, String)]): DataFrame =
    rows.toDF("wid", "sid", "cited", "py", "tex")
      .selectExpr(
        "wid AS id",
        "named_struct('source', named_struct('id', " +
          "concat('https://openalex.org/S', sid))) AS primary_location",
        "NULLIF(py, 0) AS publication_year",
        "CAST(NULL AS DATE) AS publication_date",
        "cited AS cited_by_count",
        "named_struct('is_oa', wid % 2 = 0) AS open_access",
        "DATE '2021-05-05' AS created_date",
        s"CASE WHEN tex = 'AA' THEN array(${t("A")}, ${t("A")}) " +
          s"WHEN tex = 'ABn' THEN array(${t("A")}, ${t("B")}, $tNull) " +
          s"WHEN tex = 'AC' THEN array(${t("A")}, ${t("C")}) " +
          s"WHEN tex = 'A' THEN array(${t("A")}) " +
          s"ELSE CAST(NULL AS $topicT) END AS topics")

  test("topicsAndShare: per-work dedup, null-id filter, count-vs-value order") {
    // s1: w1 carries topic A twice (dedup → one), w2 carries A, B and a
    // null topic (filtered); w3 carries B, C (C ties B on count → id asc).
    // s2: one work on A → corpus totals A=4, B=1, C=1.
    val wb = SourcesApi.worksBase(mkWorks(Seq(
      (1L, 1L, 0, 2020, "AA"), (2L, 1L, 0, 2020, "ABn"),
      (3L, 1L, 0, 2020, "AC"), (4L, 2L, 0, 2020, "A"))))
    val out = SourcesApi.topicsAndShare(wb, topK = 2)
      .orderBy("source_id").collect()
    val s1Topics = out(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getInt(2)))
    assert(s1Topics == Seq(("A", 3), ("B", 1)))
    // share: B = r7(1/1) = 1.0, C = r7(1/1) = 1.0, A = r7(3/4) = 0.75 —
    // the value ordering DIFFERS from the count ordering, and the B/C
    // value tie falls to id asc
    val s1Share = out(0).getSeq[org.apache.spark.sql.Row](2)
      .map(r => (r.getString(0), r.getDouble(2)))
    assert(s1Share == Seq(("B", 1.0), ("C", 1.0)))
    // s2: A count 1 of corpus total 4 → r7(1/4) = 0.25 exactly
    val s2Share = out(1).getSeq[org.apache.spark.sql.Row](2)
      .map(r => (r.getString(0), r.getDouble(2)))
    assert(s2Share == Seq(("A", 0.25)))
  }

  private def mkSources(rows: Seq[(Long, Option[Long], Option[Long], String)])
      : DataFrame =
    rows.map(r => (r._1, r._2, r._3, r._4)).toDF("id", "pid", "iid", "typ")
      .selectExpr(
        "id", "concat('Src', id) AS display_name",
        "CAST(NULL AS STRING) AS issn_l",
        "CAST(NULL AS ARRAY<STRING>) AS issns",
        "pid AS publisher_id", "iid AS institution_id", "typ AS type",
        "CAST(NULL AS STRING) AS wikidata_id",
        "false AS is_in_doaj", "CAST(NULL AS INT) AS is_in_doaj_start_year",
        "false AS is_oa_high_oa_rate",
        "CAST(NULL AS INT) AS high_oa_rate_start_year",
        "false AS is_in_scielo", "false AS is_ojs", "false AS is_core",
        "false AS is_preprint_repository", "true AS is_oa",
        "CAST(NULL AS STRING) AS webpage",
        "CAST(NULL AS ARRAY<STRUCT<price:INT,currency:STRING>>) AS apc_prices",
        "CAST(NULL AS INT) AS apc_usd",
        "CAST(NULL AS MAP<STRING,INT>) AS apc_usd_by_year",
        "'US' AS country_code",
        "CAST(NULL AS ARRAY<STRUCT<url:STRING,organization:STRING>>)" +
          " AS societies",
        "CAST(NULL AS ARRAY<STRING>) AS alternate_titles",
        "CAST(NULL AS BIGINT) AS merge_into_id")

  private val metricsPre = Seq((1L, 1999, 2020))
    .toDF("id", "first_publication_year", "last_publication_year")
  private val institutions = Seq((4L, "Inst4")).toDF("id", "display_name")
  private val publishers = Seq((7L, "Pub7", Some("https://openalex.org/P107")))
    .toDF("id", "display_name", "pp")
    .select(col("id"), col("display_name"),
      struct(col("pp").as("id")).as("parent_publisher"))

  test("assemble: host routing + lineage (repo → I, journal → P+parent, " +
    "null publisher → empty)") {
    val sources = mkSources(Seq(
      (1L, Some(7L), None, "journal"), (2L, None, Some(4L), "repository"),
      (3L, None, None, "journal")))
    val wb = SourcesApi.worksBase(mkWorks(Seq((1L, 1L, 5, 2020, ""))))
    val out = SourcesApi.assemble(sources, metricsPre, institutions,
      publishers, wb, recentYearMin = 2023)
      .select("id", "host_organization", "host_organization_name",
        "host_organization_lineage", "works_count")
      .orderBy("id").collect()
    assert(out(0).getString(1) == "https://openalex.org/P7")
    assert(out(0).getString(2) == "Pub7")
    assert(out(0).getSeq[String](3) ==
      Seq("https://openalex.org/P7", "https://openalex.org/P107"))
    assert(out(0).getInt(4) == 1)
    assert(out(1).getString(1) == "https://openalex.org/I4")
    assert(out(1).getString(2) == "Inst4")
    assert(out(1).getSeq[String](3) == Seq("https://openalex.org/I4"))
    assert(out(2).getString(1) == null) // null publisher_id → null host
    assert(out(2).getSeq[String](3) == Seq.empty)
    assert(out(2).getInt(4) == 0) // no works → zero counts
  }

  test("mainAgg: h-index fold, i10, exact recent mean on the horizon") {
    // the reference's main_agg as the shared rollup computes it; s2 has
    // no works (zero summary, [] counts_by_year) and s3's works all lack
    // a publication year (counted, but in no year bucket)
    val sources = mkSources(Seq((1L, Some(7L), None, "journal"),
      (2L, Some(7L), None, "journal"), (3L, Some(7L), None, "journal")))
    val wb = SourcesApi.worksBase(mkWorks(Seq(
      (1L, 1L, 10, 2020, ""), (2L, 1L, 3, 2020, ""),
      (3L, 1L, 0, 2020, ""), (4L, 1L, 8, 2024, ""),
      (5L, 3L, 12, 0, ""), (6L, 3L, 2, 0, ""))))
    val out = SourcesApi.assemble(sources, metricsPre, institutions,
        publishers, wb, recentYearMin = 2023)
      .select("works_count", "cited_by_count", "summary_stats",
        "counts_by_year")
      .orderBy("id").collect()
    def summary(r: Row) = {
      val s = r.getStruct(2); (s.getDouble(0), s.getInt(1), s.getInt(2))
    }
    def years(r: Row) = r.getSeq[Row](3)
      .map(y => (y.getInt(0), y.getInt(1), y.getInt(2), y.getInt(3)))
    // sorted desc [10,8,3,0] → h=3; only the 2024 work is "recent"
    assert(out(0).getInt(0) == 4 && out(0).getInt(1) == 21)
    assert(summary(out(0)) == ((8.0, 3, 1)))
    // newest first; the even work ids are OA
    assert(years(out(0)) == Seq((2024, 1, 1, 8), (2020, 3, 1, 13)))
    assert(out(1).getInt(0) == 0 && out(1).getInt(1) == 0)
    assert(summary(out(1)) == ((0.0, 0, 0)) && years(out(1)).isEmpty)
    // no recent work → mean 0.0; h over [12,2] = 2
    assert(out(2).getInt(0) == 2 && out(2).getInt(1) == 14)
    assert(summary(out(2)) == ((0.0, 2, 1)) && years(out(2)).isEmpty)
  }

  test("stampUpdatedDate: changed gets now, unchanged keeps, new gets now") {
    val sources = mkSources(Seq(
      (1L, Some(7L), None, "journal"), (2L, None, Some(4L), "repository")))
    def api(works: DataFrame) = SourcesApi.assemble(sources, metricsPre,
      institutions, publishers, SourcesApi.worksBase(works),
      recentYearMin = 2023)
    val gen1 = mkWorks(Seq(
      (1L, 1L, 5, 2020, ""), (2L, 1L, 9, 2021, ""), (3L, 2L, 1, 2020, "")))
    val gen2 = mkWorks(Seq( // w2 dropped → only s1's content changes
      (1L, 1L, 5, 2020, ""), (3L, 2L, 1, 2020, "")))
    val d1 = lit("2024-01-01").cast("timestamp")
    val key = SourcesApi.contentKey
    val snap = Incremental.hashSnapshot(
      api(gen1).withColumn("updated_date", d1), key)
    val stamped = Incremental.stampUpdatedDate(api(gen2), snap, key,
      lit("2024-02-02").cast("timestamp"))
      .select(col("id"), col("updated_date").cast("date").cast("string"))
      .orderBy("id").collect()
    assert(stamped(0).getString(1) == "2024-02-02") // s1 changed
    assert(stamped(1).getString(1) == "2024-01-01") // s2 untouched
    // a row absent from the snapshot counts as new → stamped now
    val fresh = Incremental.stampUpdatedDate(api(gen2),
      snap.filter(col("id") === 1), key, lit("2024-02-02").cast("timestamp"))
      .select(col("id"), col("updated_date").cast("date").cast("string"))
      .orderBy("id").collect()
    assert(fresh(1).getString(1) == "2024-02-02")
  }
}
