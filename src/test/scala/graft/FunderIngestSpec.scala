package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{ColumnExprAccess, Row}
import org.apache.spark.sql.functions._
import graft.awards.FunderIngest

/** Pins the per-funder ingest pattern against the reference
  * notebooks' own documented examples (CreateACFAwards cell 10,
  * CreateANRAwards cell 7, CreateAbelPrizeAwards cells 0/11). */
class FunderIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val now = lit("2026-01-01 00:00:00").cast("timestamp")
  private def funders = Seq(
    (4320332208L, "Administration for Children and Families",
      "https://ror.org/03jmfdf59", "10.13039/100000133"),
    (8651541334L, "Det Norske Videnskaps-Akademi", "r", "d"),
    (4320320883L, "Agence Nationale de la Recherche", "r2", "d2"))
    .toDF("funder_id", "display_name", "ror_id", "doi")

  test("fail-fast: a missing registry funder row throws before transform") {
    val raw = Seq(("FAIN-1", "t", "t2", "10", "2020-01-01", "2021-01-01",
      "c", "u")).toDF("award_id_fain",
      "prime_award_base_transaction_description", "transaction_description",
      "total_obligated_amount", "period_of_performance_start_date",
      "period_of_performance_current_end_date", "cfda_title",
      "usaspending_permalink")
    val e = intercept[IllegalArgumentException] {
      FunderIngest.transform(raw, funders,
        FunderIngest.usaSpending(111L, "x", 1), now)
    }
    assert(e.getMessage.contains("expected exactly 1 registry row"))
  }

  test("USAspending: default mint range, TRY_CAST null, title coalesce") {
    val raw = Seq(
      ("FAIN-1", Some("Prime"), "Fallback", "1000.5", "2020-01-01",
        "2021-06-30", "CFDA X", "https://u/1"),
      ("FAIN-2", None, "Fallback2", "not-money", "bad date", "2021-06-30",
        "CFDA Y", "https://u/2"),
      ("   ", Some("dropped"), "d", "1", "2020-01-01", "2021-01-01", "c", "u"))
      .toDF("award_id_fain", "prime_award_base_transaction_description",
        "transaction_description", "total_obligated_amount",
        "period_of_performance_start_date",
        "period_of_performance_current_end_date", "cfda_title",
        "usaspending_permalink")
    val out = FunderIngest.transform(raw, funders,
      FunderIngest.usaSpending(4320332208L, "usaspending_acf", 233), now)
      .orderBy("funder_award_id").collect()
    assert(out.length === 2) // blank-id row dropped
    val r1 = out(0); val r2 = out(1)
    // reference mint: abs(xxhash64(funder:lower(id))) % 9e9
    assert(r1.getAs[Long]("id") >= 0L && r1.getAs[Long]("id") < 9000000000L)
    assert(r1.getAs[String]("display_name") === "Prime")
    assert(r2.getAs[String]("display_name") === "Fallback2")
    assert(r1.getAs[Double]("amount") === 1000.5)
    assert(r2.isNullAt(r2.fieldIndex("amount"))) // TRY_CAST garbage
    assert(r2.isNullAt(r2.fieldIndex("start_date"))) // TRY_TO_DATE garbage
    assert(r1.getAs[Int]("end_year") === 2021)
    assert(r1.getAs[Row]("funder").getAs[String]("id")
      === "https://openalex.org/F4320332208")
    assert(r1.getAs[String]("works_api_url")
      === s"https://api.openalex.org/works?filter=awards.id:G${r1.getAs[Long]("id")}")
  }

  test("Abel prize: year-boundary NOK amount apportioned by portion, " +
    "declined description, laureate investigator") {
    val raw = Seq(
      // 2004 shared year: 6M × 1/2; declined with citation
      ("2004-atiyah", 2004, "Atiyah", "Michael", "Atiyah",
        Some("For topology"), true, "1/2", "Edinburgh", "https://a/1"),
      // 2019 boundary: 7.5M solo, plain citation
      ("2019-uhlenbeck", 2019, "Uhlenbeck", "Karen", "Uhlenbeck",
        Some("For geometric analysis"), false, "1", "UT Austin",
        "https://a/2"),
      // pre-2003: no prize money recorded
      ("1999-early", 1999, "Early", "E", "Early", None, true, "1", "X",
        "https://a/3"))
      .toDF("slug", "year", "laureate_name", "given_name", "family_name",
        "citation", "declined", "portion", "institution", "source_url")
    val out = FunderIngest.transform(raw, funders, FunderIngest.abelPrize,
      now).orderBy("start_year").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("amount")))
    assert(out(0).getAs[String]("description") === "Declined the prize.")
    assert(out(1).getAs[Double]("amount") === 3000000.0)
    assert(out(1).getAs[String]("description")
      === "Declined the prize. For topology")
    assert(out(1).getAs[String]("funder_award_id") === "abel-2004-atiyah")
    assert(out(1).getAs[String]("display_name")
      === "Abel Prize 2004 — Atiyah")
    assert(out(2).getAs[Double]("amount") === 7500000.0)
    assert(out(2).getAs[Row]("lead_investigator")
      .getAs[String]("family_name") === "Uhlenbeck")
    assert(out(2).getAs[Row]("lead_investigator").getAs[Row]("affiliation")
      .getAs[String]("name") === "UT Austin")
    assert(out.forall(_.getAs[String]("currency") == "NOK"))
    assert(out.forall(_.getAs[String]("funding_type") == "prize"))
  }

  test("ANR: orcid URL normalization, France fallback, RNSR ids, " +
    "edition-year fallback, scheme cascade") {
    val raw = Seq(
      ("ANR-21-CE45-0012", "T1", Some("A1"), "100000", "JCJC 2021",
        Some("2021-03-01"), "2021", "Marie", Some("Curie"),
        Some("0000-0001-1234-5678"), "CNRS", None, Some("RNSR123")),
      ("ANR-20-IDEX-0001", "T2", None, "x", "IdEx université", None, "2020",
        "P", Some("L"), Some("https://orcid.org/0000-0002-1111-2222"),
        "UPS", Some("Belgique"), None),
      ("ANR-19-ASTR-0007", "T3", Some("A3"), "5", "ASTRID 2019", None,
        "2019", "Q", None, Some(""), "X", None, None))
      .toDF("project_id", "title", "abstract", "amount", "funding_program",
        "start_date", "edition_year", "pi_given_name", "pi_family_name",
        "pi_orcid", "institution", "country", "rnsr_code")
    val out = FunderIngest.transform(raw, funders, FunderIngest.anr, now)
      .orderBy("funder_award_id").collect()
    val byAid = out.map(r => r.getAs[String]("funder_award_id") -> r).toMap
    val r1 = byAid("ANR-21-CE45-0012")
    val lead1 = r1.getAs[Row]("lead_investigator")
    assert(lead1.getAs[String]("orcid")
      === "https://orcid.org/0000-0001-1234-5678") // bare id → URL
    assert(lead1.getAs[Row]("affiliation").getAs[String]("country")
      === "France") // null country falls back
    assert(lead1.getAs[Row]("affiliation").getAs[Seq[Row]]("ids")
      .head.getAs[String]("id") === "RNSR123")
    assert(r1.getAs[String]("funding_type") === "fellowship")
    assert(r1.getAs[Int]("start_year") === 2021)
    val r2 = byAid("ANR-20-IDEX-0001")
    assert(r2.getAs[Row]("lead_investigator").getAs[String]("orcid")
      === "https://orcid.org/0000-0002-1111-2222") // already a URL
    assert(r2.getAs[String]("funding_type") === "infrastructure")
    assert(r2.getAs[Int]("start_year") === 2020) // edition-year fallback
    assert(r2.isNullAt(r2.fieldIndex("amount"))) // TRY_CAST 'x'
    val r3 = byAid("ANR-19-ASTR-0007")
    assert(r3.isNullAt(r3.fieldIndex("lead_investigator"))) // no family name
    assert(r3.getAs[String]("funding_type") === "research")
    assert(r3.getAs[String]("landing_page_url")
      === "https://anr.fr/Projet-ANR-19-ASTR-0007")
  }

  test("likeCascade: first matching arm wins, NULL falls to the default, " +
    "one flat CASE WHEN") {
    val c = lower(col("scheme"))
    val arms = Seq("fellow" -> "fellowship", "young" -> "research",
      "infra" -> "infrastructure")
    val cascade = FunderIngest.likeCascade(c, arms, "grant")
    val out = Seq(Some("Young Fellow"), Some("young investigator"),
      Some("INFRA-1"), Some("other"), None).toDF("scheme")
      .select(col("scheme"), cascade.as("t")).collect()
      .map(r => Option(r.getString(0)) -> r.getString(1)).toMap
    assert(out(Some("Young Fellow")) === "fellowship") // both match: first
    assert(out(Some("young investigator")) === "research")
    assert(out(Some("INFRA-1")) === "infrastructure")
    assert(out(Some("other")) === "grant")
    assert(out(None) === "grant") // NULL input: no arm matches
    val handWritten = when(c.like("%fellow%"), "fellowship")
      .when(c.like("%young%"), "research")
      .when(c.like("%infra%"), "infrastructure")
      .otherwise("grant")
    assert(ColumnExprAccess.expr(cascade) ===
      ColumnExprAccess.expr(handWritten))
  }

  test("landing replaces exactly the funder's (provenance, priority) slice") {
    val cfg = FunderIngest.usaSpending(4320332208L, "usaspending_acf", 233)
    val mk = (aid: String) => (aid, Some("t"), "f", "1", "2020-01-01",
      "2021-01-01", "c", "u")
    def raw(aids: String*) = aids.map(mk).toDF("award_id_fain",
      "prime_award_base_transaction_description", "transaction_description",
      "total_obligated_amount", "period_of_performance_start_date",
      "period_of_performance_current_end_date", "cfda_title",
      "usaspending_permalink")
    val stale = FunderIngest.transform(raw("OLD-1", "OLD-2"), funders, cfg, now)
      .withColumn("priority", lit(233))
    val foreign = FunderIngest.transform(raw("KEEP-1"), funders, cfg, now)
      .withColumn("provenance", lit("other_src"))
      .withColumn("priority", lit(9))
    val fresh = FunderIngest.transform(raw("NEW-1", "NEW-2", "NEW-3"),
      funders, cfg, now)
    val landed = FunderIngest.landRaw(stale.unionByName(foreign), fresh, cfg)
    val slices = landed.groupBy("provenance", "priority")
      .agg(sort_array(collect_list(col("funder_award_id"))).as("aids"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        r.getAs[scala.collection.Seq[String]]("aids")).toMap
    assert(slices(("usaspending_acf", 233)) === Seq("NEW-1", "NEW-2", "NEW-3"))
    assert(slices(("other_src", 9)) === Seq("KEEP-1"))
    // §6.3/§6.7 single-table reports and the one-pass grouped variant
    // agree on the fresh slice
    val freshSlice = landed.filter(col("provenance") === "usaspending_acf")
    val comp = FunderIngest.completenessReport(freshSlice).collect().head
    assert(comp.getAs[Long]("total") === 3L)
    assert(comp.getAs[Double]("pct_with_amount") === 100.0)
    val amt = FunderIngest.amountCheck(freshSlice).collect().head
    assert(amt.getAs[scala.collection.Seq[String]]("currencies") === Seq("USD"))
    assert(amt.getAs[Double]("min_amt") === 1.0)
    val grouped = FunderIngest.sliceReports(landed)
      .filter(col("slice") === "usaspending_acf:233").collect().head
    assert(grouped.getAs[Long]("total") === comp.getAs[Long]("total"))
    assert(grouped.getAs[Double]("pct_amount") === amt.getAs[Double]("pct_amount"))
  }
}
