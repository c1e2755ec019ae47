package dagbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

final case class Check(name: String, passed: Boolean, detail: String)

/** Output checks against what the generator planted, the
  * useful-to-attempted ratios, and an order-independent digest of the
  * final outputs. All of it runs after a DAG run's clock has stopped. */
object Checks {
  final case class Result(checks: Seq[Check], ratios: Map[String, Double], digest: String)

  private def eq(name: String, got: Long, want: Long): Check =
    Check(name, got == want, s"got $got, planted $want")
  private def ratio(num: Long, den: Long): Double =
    if (den == 0) 0.0 else num.toDouble / den

  /** Row count and a sum of per-row hashes: equal for equal multisets
    * of rows, whatever their order or partitioning. */
  def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(to_json(struct(
      df.columns.sorted.map(col).toIndexedSeq: _*))), lit(1000000007L)))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  private def digestOf(out: Map[String, DataFrame], names: Seq[String]): String =
    names.map(n => s"$n=${digest(out(n))}").mkString(";")

  def full(out: Map[String, DataFrame], t: Map[String, Long]): Result = {
    val doi = out("mapped_doi"); val pm = out("mapped_pubmed")
    val docs = out("docs")
    val distinctWorks = doi.select("work_id").union(pm.select("work_id")).distinct().count()
    val nDocs = docs.count()
    val guard = out("guardrails").collect()
    val resolved = doi.count() + pm.count()
    val adopted = doi.filter(col("work_id_source") =!= "minted").count() +
      pm.filter(col("work_id_source") =!= "minted").count()
    val matched = out("matched")
    val bumped = out("stamped").filter(col("updated_date") ===
      lit(s"${Nightly.RunDate} 12:00:00").cast("timestamp")).count()
    val checks = Seq(
      eq("distinct_works", distinctWorks, t("works")),
      eq("works_rows", out("works").count(), t("works")),
      eq("pubmed_adopted_by_title_author",
        pm.filter(col("work_id_source") === "title_author").count(), t("pubmed_records")),
      eq("docs_one_per_work", nDocs, t("works")),
      eq("docs_distinct_ids", docs.select("id").distinct().count(), t("works")),
      eq("citation_edges", out("references")
        .select(explode(col("referenced_works"))).count(), t("citations")),
      eq("work_funders", out("work_funders").count(), t("funded_crossref")),
      eq("crossref_locations_without_source", out("sourced").filter(
        col("provenance") === "crossref" && col("source_id").isNull).count(), 0),
      eq("author_seat_batch", out("guard_batch").count(), t("authorships")),
      eq("served_rows", out("served").count(), t("works")),
      eq("updated_date_bumped", bumped, t("works")),
      Check("award_matches_cover_funded_works",
        out("award_matches").select("paper_id").distinct().count() >= t("funded_crossref"),
        s"planted ${t("funded_crossref")}")) ++
      guard.map(r => Check(s"guardrail_${r.getString(0)}", r.getBoolean(1), r.getString(2)))
    Result(checks, Map(
      "resolve.adopt_ratio" -> ratio(adopted, resolved),
      "authors.match_ratio" -> ratio(matched.filter(col("author_id").isNotNull &&
        col("match_tier") =!= "minted").count(), matched.count())),
      digestOf(out, Seq("docs", "served", "citations", "award_matches")))
  }

  def curation(out: Map[String, DataFrame], t: Map[String, Long]): Result = {
    val docs = out("docs")
    val nearKept = out("gated").join(out("non_canonical"), Seq("doc_id"), "left_anti")
    val dupSurvivors = nearKept.join(docs.filter(col("kind").isin("exact", "near"))
        .select("doc_id", "root"), Seq("doc_id"))
      .groupBy("root").count().filter(col("count") > 1).count()
    val sentinels = out("clean").join(docs.filter(col("kind") === "sentinel"),
      Seq("doc_id"), "left_semi").count()
    val junk = out("gated").join(docs.filter(col("kind") === "junk"),
      Seq("doc_id"), "left_semi").count()
    val pack = out("packed").agg(sum(col("n_tokens")), max(col("cum_tokens"))).head()
    val candidates = out("candidates").count()
    val checks = Seq(
      eq("duplicate_groups_collapsed", dupSurvivors, 0),
      eq("sentinels_survive", sentinels, t("sentinels")),
      eq("junk_dropped", junk, 0),
      Check("pack_tiling", pack.getLong(0) == pack.getLong(1),
        s"tokens ${pack.get(0)}, last cumulative ${pack.get(1)}"))
    Result(checks, Map(
      "operators.dup_precision" -> ratio(out("verified").count(), candidates)),
      digestOf(out, Seq("clean", "packed", "verified")))
  }
}
