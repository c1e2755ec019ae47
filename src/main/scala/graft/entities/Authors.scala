package graft.entities

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Authors satellite entity build (reference: notebooks/authors/
  * CreateAuthors.ipynb — author_works_staging explode, author_topics
  * grouping-sets counts+shares, top-5 x_concepts, affiliations with
  * active-year sets, counts_by_year; the content-hash change stamping
  * is [[graft.core.Incremental]]'s).
  *
  * Scale: every aggregate shuffles once on author_id with map-side
  * partials; the topics pass computes per-author counts AND corpus
  * topic totals in ONE grouping-sets aggregation (no second scan), the
  * same idiom as the reference; the totals window partitions by
  * topic_id (bounded by the topics vocabulary, no global sort).
  */
object Authors {

  /** Deterministic 7-decimal rounding — floor(x·1e7+0.5)/1e7 is half-up
    * in pure FP arithmetic and reproduces bit-for-bit in a SQL oracle
    * (the reference's ROUND(x, 7) is half-up too; see SURVEY §8 on why
    * engine ROUND differs at representation edges). */
  def r7(x: Column): Column = floor(x * 10000000L + 0.5) / 10000000.0

  /** author_topics (CreateAuthors.ipynb cell 4): per-author topic counts
    * and per-topic corpus totals from one GROUPING SETS pass; share =
    * count / total. Input: (author_id, work_id, topic_id) distinct
    * author-work-topic rows. Output per author: `topics` array (count
    * DESC, id ASC) and `topic_share` array (value DESC, id ASC), the
    * share also as exact e7-scaled long for oracle-proof output. */
  def authorTopics(awt: DataFrame): DataFrame = {
    val counts = awt.distinct()
      .groupingSets(
        Seq(Seq(col("author_id"), col("topic_id")), Seq(col("topic_id"))),
        col("author_id"), col("topic_id"))
      .agg(countDistinct(col("work_id")).as("cnt"))
    val withTotals = counts.withColumn("topic_total",
      max(when(col("author_id").isNull, col("cnt")))
        .over(Window.partitionBy(col("topic_id"))))
    val share = col("cnt").cast("double") / col("topic_total").cast("double")
    val rows = withTotals.filter(col("author_id").isNotNull)
      .withColumn("share", r7(share))
      .withColumn("share_e7", floor(share * 10000000L + 0.5).cast("long"))
    val byCount: (Column, Column) => Column = (l, r) =>
      when(l("count") > r("count"), -1).when(l("count") < r("count"), 1)
        .when(l("id") < r("id"), -1).when(l("id") > r("id"), 1).otherwise(0)
    val byValue: (Column, Column) => Column = (l, r) =>
      when(l("value_e7") > r("value_e7"), -1).when(l("value_e7") < r("value_e7"), 1)
        .when(l("id") < r("id"), -1).when(l("id") > r("id"), 1).otherwise(0)
    rows.groupBy(col("author_id"))
      .agg(
        array_sort(collect_list(struct(col("topic_id").as("id"),
          col("cnt").cast("int").as("count"))), byCount).as("topics"),
        array_sort(collect_list(struct(col("topic_id").as("id"),
          col("share").as("value"), col("share_e7").as("value_e7"))), byValue)
          .as("topic_share"))
  }

  /** Top-5 concepts per author by (count DESC, id ASC) —
    * x_concepts (cell 8 author_concepts_exploded QUALIFY ≤ 5). Input:
    * (author_id, work_id, concept_id, score).
    *
    * Scale shape: the QUALIFY window would shuffle every
    * (author, concept) row to its author and SORT — at corpus scale a
    * hot author sorts in one task. `TopK.topKRows` elects the same
    * top-k inside one ObjectHashAggregate with map-side partials (≤ k
    * rows per author × partition cross the wire), carrying the score
    * payload through the aggregate; ties break on the concept id's
    * STRING form (concept ids are strings throughout this engine).
    * NUMERIC concept ids are zero-padded to 20 digits before the cast
    * (TopK's own scaladoc rule), so count-ties elect in the id's
    * NUMERIC order — without the pad, a numeric caller would silently
    * get collation order ('10' < '9'). Contract: integral concept ids
    * are non-negative (the pad can't linearize negatives; entity ids
    * here never are). Fractional id types stay on collation order —
    * no engine id is fractional. */
  def xConcepts(awc: DataFrame, topK: Int = 5): DataFrame = {
    val idType = awc.schema("concept_id").dataType
    val numericId = {
      import org.apache.spark.sql.types._
      idType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    val tkId =
      if (numericId) lpad(col("concept_id").cast("string"), 20, "0")
      else col("concept_id").cast("string")
    val grouped = awc.filter(col("concept_id").isNotNull)
      .groupBy(col("author_id"), col("concept_id"))
      .agg(max(col("score")).as("score"), count(lit(1)).as("concept_count"))
    val cmp: (Column, Column) => Column = (l, r) =>
      when(l("score") > r("score"), -1).when(l("score") < r("score"), 1)
        .when(l("id") < r("id"), -1).when(l("id") > r("id"), 1).otherwise(0)
    grouped.groupBy(col("author_id"))
      .agg(graft.operators.TopK.topKRows(topK)(col("concept_count"),
        tkId,
        to_json(struct(col("score")))).as("__tk"))
      .select(col("author_id"),
        array_sort(transform(col("__tk"), e =>
          struct(e.getField("id").cast(idType).as("id"),
            from_json(e.getField("payload"), "score DOUBLE",
              Map.empty[String, String]).getField("score").as("score"),
            e.getField("score").cast("int").as("count"))), cmp)
          .as("x_concepts"))
  }

  /** Affiliations with active-year sets (cell 8 affiliations_exploded):
    * per (author, institution), years = distinct pub years DESC. Input:
    * (author_id, pub_year, institution_id). */
  def affiliations(awi: DataFrame): DataFrame = {
    val cmp: (Column, Column) => Column = (l, r) =>
      when(l("institution_id") < r("institution_id"), -1)
        .when(l("institution_id") > r("institution_id"), 1).otherwise(0)
    awi.filter(col("pub_year").isNotNull && col("institution_id").isNotNull)
      .groupBy(col("author_id"), col("institution_id"))
      .agg(sort_array(collect_set(col("pub_year")), asc = false).as("years"))
      .groupBy(col("author_id"))
      .agg(array_sort(collect_list(struct(col("institution_id"), col("years"))), cmp)
        .as("affiliations"))
  }

  /** counts_by_year (cell 8 counts_per_year): per author-year work/oa/
    * citation counts. Input: (author_id, pub_year, is_oa,
    * work_cited_by_count). */
  def countsByYear(staging: DataFrame): DataFrame =
    Metrics.yearly(staging, "author_id",
      Metrics.intCounts(count(lit(1)), col("work_cited_by_count")): _*)

  /** Last known institution: the institution on the author's most recent
    * work (max_by over (pub_year, work_id) — deterministic tiebreak). */
  def lastKnownInstitution(awi: DataFrame): DataFrame =
    awi.filter(col("institution_id").isNotNull && col("pub_year").isNotNull)
      .groupBy(col("author_id"))
      .agg(max_by(col("institution_id"),
        struct(col("pub_year"), col("work_id"), col("institution_id")))
        .as("last_known_institution"))
}
