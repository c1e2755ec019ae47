package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Incremental
import graft.entities.TopicHierarchy

/** Pins the topic-hierarchy API build semantics
  * (CreateTopicHierarchyApi.ipynb): URL-id parsing, the one-pass
  * four-level rollup, children/sibling assembly (sorted, self-dropped,
  * single-member empty), the orphan-drop inner joins, and both
  * branches of the hash-gated updated_date. */
class TopicHierarchySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def topicsDim = Seq(
    // (topic, subfield, field, domain): 2 topics in sf 1701, 1 in 1702
    (10001, "Topic 1", "Sum 1", "a 1; b 1", "https://w/T1", 1701, 11, 1),
    (10002, "Topic 2", "Sum 2", "a 2; b 2", "https://w/T2", 1701, 11, 1),
    (10003, "Topic 3", "Sum 3", "a 3; b 3", "https://w/T3", 1702, 12, 2))
    .toDF("topic_id", "display_name", "summary", "keywords", "wikipedia_url",
      "subfield_id", "field_id", "domain_id")
    .withColumn("created_date", lit("2024-01-15 08:30:45.75").cast("timestamp"))

  private def works = Seq(
    (1L, 10L, 10001, 1701, 11, 1), (2L, 20L, 10001, 1701, 11, 1),
    (3L, 5L, 10003, 1702, 12, 2))
    .toDF("id", "cited_by_count", "t", "sf", "f", "d")
    .select(col("id"), col("cited_by_count"), struct(
      concat(lit("https://openalex.org/T"), col("t").cast("string")).as("id"),
      struct(concat(lit("https://openalex.org/subfields/"),
        col("sf").cast("string")).as("id")).as("subfield"),
      struct(concat(lit("https://openalex.org/fields/"),
        col("f").cast("string")).as("id")).as("field"),
      struct(concat(lit("https://openalex.org/domains/"),
        col("d").cast("string")).as("id")).as("domain")).as("primary_topic"))
    .unionByName(Seq((4L, 99L)).toDF("id", "cited_by_count")
      .withColumn("primary_topic", lit(null).cast(
        "struct<id:string,subfield:struct<id:string>," +
          "field:struct<id:string>,domain:struct<id:string>>")))

  test("primaryTopics parses URL ids; NULL primary_topic rows drop") {
    val got = TopicHierarchy.primaryTopics(works).orderBy("work_id").collect()
    assert(got.length == 3)
    assert(got(0).getAs[Int]("topic_id") == 10001)
    assert(got(0).getAs[Int]("subfield_id") == 1701)
    assert(got(2).getAs[Int]("domain_id") == 2)
  }

  test("levelCounts: one pass equals four per-level GROUP BYs") {
    val got = TopicHierarchy.levelCounts(TopicHierarchy.primaryTopics(works))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getLong(3))).toSet
    assert(got == Set(
      ("topic", 10001, 2, 30L), ("topic", 10003, 1, 5L),
      ("subfield", 1701, 2, 30L), ("subfield", 1702, 1, 5L),
      ("field", 11, 2, 30L), ("field", 12, 1, 5L),
      ("domain", 1, 2, 30L), ("domain", 2, 1, 5L)))
  }

  private def dims = {
    val domains = Seq(
      (1, "Domain 1", "D desc 1", Option("https://wd/QD1"), "https://wp/D1",
        Option("""["Alt D1"]""")),
      (2, "Domain 2", "D desc 2", None, "https://wp/D2", None))
      .toDF("domain_id", "display_name", "description", "wikidata_url",
        "wikipedia_url", "display_name_alternatives")
      .withColumn("created_date",
        lit("2024-01-15 08:30:45.75").cast("timestamp"))
    val fields = Seq(
      (11, "Field 11", "F desc 11"), (12, "Field 12", "F desc 12"),
      (13, "Field orphan", "no topics")) // dropped by inner join
      .toDF("field_id", "display_name", "description")
      .withColumn("wikidata_url", lit(null).cast("string"))
      .withColumn("wikipedia_url", concat(lit("https://wp/F"),
        col("field_id").cast("string")))
      .withColumn("display_name_alternatives", lit(null).cast("string"))
      .withColumn("created_date",
        lit("2024-01-15 08:30:45.75").cast("timestamp"))
    val subfields = Seq((1701, "Subfield 1701", "S desc 1"),
      (1702, "Subfield 1702", "S desc 2"))
      .toDF("subfield_id", "display_name", "description")
      .withColumn("wikidata_url", lit(null).cast("string"))
      .withColumn("wikipedia_url", concat(lit("https://wp/S"),
        col("subfield_id").cast("string")))
      .withColumn("display_name_alternatives", lit(null).cast("string"))
      .withColumn("created_date",
        lit("2024-01-15 08:30:45.75").cast("timestamp"))
    (domains, fields, subfields)
  }

  test("topicsApi: siblings within subfield only, sorted, self dropped; " +
    "single-topic subfield gets empty siblings") {
    val (domains, fields, subfields) = dims
    val counts = TopicHierarchy.levelCounts(TopicHierarchy.primaryTopics(works))
    val api = TopicHierarchy.topicsApi(topicsDim, subfields, fields, domains,
      counts).orderBy("id").collect()
    assert(api.length == 3)
    def sibs(r: org.apache.spark.sql.Row) =
      r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("siblings"))
        .map(_.getAs[String]("id"))
    assert(sibs(api(0)) == Seq("https://openalex.org/T10002"))
    assert(sibs(api(1)) == Seq("https://openalex.org/T10001"))
    assert(sibs(api(2)).isEmpty)
    val t1 = api(0)
    assert(t1.getAs[Int]("works_count") == 2)
    assert(t1.getAs[Int]("cited_by_count") == 30)
    assert(t1.getSeq[String](t1.fieldIndex("keywords")) == Seq("a 1", "b 1"))
    assert(t1.getAs[org.apache.spark.sql.Row]("subfield")
      .getAs[String]("id") == "https://openalex.org/subfields/1701")
    // created_date truncated to the second
    assert(t1.getAs[java.sql.Timestamp]("created_date").toString
      == "2024-01-15 08:30:45.0")
  }

  test("fieldsApi drops the topic-less orphan; domainsApi children sorted") {
    val (domains, fields, subfields) = dims
    val hier = TopicHierarchy.hierarchy(topicsDim)
    val counts = TopicHierarchy.levelCounts(TopicHierarchy.primaryTopics(works))
    val fApi = TopicHierarchy.fieldsApi(fields, domains, subfields, hier,
      counts)
    assert(fApi.select("id").as[Int].collect().sorted.toSeq == Seq(11, 12))
    val dApi = TopicHierarchy.domainsApi(domains, fields, hier, counts)
      .orderBy("id").collect()
    val ch = dApi(0).getSeq[org.apache.spark.sql.Row](
      dApi(0).fieldIndex("fields")).map(_.getAs[String]("id"))
    assert(ch == Seq("https://openalex.org/fields/11"))
    // null alternatives coalesce to []
    assert(dApi(1).getSeq[String](
      dApi(1).fieldIndex("display_name_alternatives")).isEmpty)
    assert(dApi(0).getSeq[String](
      dApi(0).fieldIndex("display_name_alternatives")) == Seq("Alt D1"))
  }

  test("stampUpdatedDate: new id and changed content get now, " +
    "unchanged keeps the old date") {
    val (domains, fields, subfields) = dims
    val counts1 = TopicHierarchy.levelCounts(
      TopicHierarchy.primaryTopics(works.filter(col("id") =!= 2L)))
    val counts2 = TopicHierarchy.levelCounts(
      TopicHierarchy.primaryTopics(works))
    def api(topics: org.apache.spark.sql.DataFrame,
        counts: org.apache.spark.sql.DataFrame) =
      TopicHierarchy.topicsApi(topics, subfields, fields, domains, counts)
    val gen1 = api(topicsDim.filter(col("topic_id") =!= 10002), counts1)
      .withColumn("updated_date", lit("2024-01-01").cast("timestamp"))
    val snap = Incremental.hashSnapshot(gen1,
      TopicHierarchy.topicsContentKey)
    val out = Incremental.stampUpdatedDate(api(topicsDim, counts2), snap,
        TopicHierarchy.topicsContentKey,
        lit("2024-06-01").cast("timestamp"))
      .select(col("id"),
        date_format(col("updated_date"), "yyyy-MM-dd").as("d"))
      .as[(Int, String)].collect().toMap
    assert(out(10002) == "2024-06-01") // new id
    assert(out(10001) == "2024-06-01") // count + sibling change
    assert(out(10003) == "2024-01-01") // untouched
  }
}
