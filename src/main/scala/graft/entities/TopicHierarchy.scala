package graft.entities

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Topic-hierarchy API tables (reference:
  * notebooks/topics/CreateTopicHierarchyApi.ipynb): enriched
  * topics/subfields/fields/domains API shapes with parent structs,
  * children and sibling lists, primary-topic works/citation counts,
  * and the hash-gated `updated_date` that only moves when content
  * changes.
  *
  * The reference derives the hierarchy from the topics master table
  * (subfields/fields carry no parent FK) and materializes a staging
  * table with four separate GROUP BYs over the primary-topic
  * projection; here the staging table is replaced by
  * [[levelCounts]] — a single explode + one hash aggregation — and the
  * DISTINCT hierarchy triples stay a (broadcastable) DataFrame.
  *
  * Scale posture: the dims are registry-sized (4 domains / ~27 fields /
  * ~250 subfields / ~4.5k topics) and broadcast everywhere; the only
  * works-sized operation is the primary-topic rollup — one projection
  * pushed to the scan and one shuffle.
  */
object TopicHierarchy {

  val TopicPrefix = "https://openalex.org/T"
  val SubfieldPrefix = "https://openalex.org/subfields/"
  val FieldPrefix = "https://openalex.org/fields/"
  val DomainPrefix = "https://openalex.org/domains/"

  private def idUrl(prefix: String, id: Column): Column =
    concat(lit(prefix), id.cast("string"))

  private def refStruct(prefix: String, id: Column, name: Column): Column =
    struct(idUrl(prefix, id).as("id"), name.as("display_name"))

  /** (score-free) id-ASC comparator over ref structs — the notebook's
    * ARRAY_SORT lambda; ids compare as STRINGS (the full URL), exactly
    * like the reference. */
  private val cmpById: (Column, Column) => Column = (l, r) =>
    when(l("id") < r("id"), -1).when(l("id") > r("id"), 1).otherwise(0)

  private def sortedRefs(c: Column): Column = array_sort(collect_list(c), cmpById)

  private val emptyRefs: Column =
    array().cast("array<struct<id:string,display_name:string>>")

  /** DISTINCT (subfield_id, field_id, domain_id) triples from the
    * topics master — the staging table's `hierarchy` record_type. */
  def hierarchy(topics: DataFrame): DataFrame =
    topics.select(col("subfield_id"), col("field_id"), col("domain_id"))
      .distinct()

  /** Primary-topic projection of the works table: parse the four
    * hierarchy ids out of the URL-shaped struct fields
    * (staging CTE `primary_topics`). */
  def primaryTopics(works: DataFrame): DataFrame = {
    def pid(c: Column, prefix: String) =
      replace(c, lit(prefix), lit("")).cast("int")
    works.filter(col("primary_topic").isNotNull)
      .select(col("id").as("work_id"),
        col("cited_by_count").cast("long").as("cited_by_count"),
        pid(col("primary_topic.id"), TopicPrefix).as("topic_id"),
        pid(col("primary_topic.subfield.id"), SubfieldPrefix).as("subfield_id"),
        pid(col("primary_topic.field.id"), FieldPrefix).as("field_id"),
        pid(col("primary_topic.domain.id"), DomainPrefix).as("domain_id"))
  }

  /** Per-level works/citation rollup — the staging table's
    * topic/subfield/field/domain record_types in ONE pass: each
    * primary-topic row explodes to its four (record_type, entity_id)
    * pairs and a single hash aggregation replaces the reference's four
    * scans. `work_id` is the works PK, so COUNT(*) equals the
    * reference's COUNT(DISTINCT work_id). */
  def levelCounts(primary: DataFrame): DataFrame =
    primary.select(col("cited_by_count"), explode(array(
        struct(lit("topic").as("record_type"), col("topic_id").as("entity_id")),
        struct(lit("subfield").as("record_type"), col("subfield_id").as("entity_id")),
        struct(lit("field").as("record_type"), col("field_id").as("entity_id")),
        struct(lit("domain").as("record_type"), col("domain_id").as("entity_id"))))
        .as("lv"))
      .groupBy(col("lv.record_type").as("record_type"),
        col("lv.entity_id").as("entity_id"))
      .agg(count(lit(1)).cast("int").as("works_count"),
        sum(col("cited_by_count")).cast("long").as("cited_by_count"))

  private def countsFor(counts: DataFrame, level: String): DataFrame =
    counts.filter(col("record_type") === level)
      .select(col("entity_id"), col("works_count").as("__wc"),
        col("cited_by_count").as("__cc"))

  /** Sibling attach — the notebook's `d1 JOIN d2 ON id <> id` (plus
    * the subfield equality for topics) with the other side broadcast,
    * re-aggregated per entity and left-joined back (a level with a
    * single member gets the COALESCE'd empty array, like the
    * notebook's absent group). The groupBy hash-partitions on the
    * entity id — no single-partition exchange. */
  private def withSiblings(dim: DataFrame, prefix: String, idCol: String,
      partitionKey: Option[String] = None): DataFrame = {
    val other = dim.select(
      partitionKey.toSeq.map(k => col(k).as("__k")) ++
        Seq(col(idCol).as("__oid"), col("display_name").as("__onm")): _*)
    val cond = partitionKey match {
      case Some(k) => col(k) === col("__k") && col(idCol) =!= col("__oid")
      case None    => col(idCol) =!= col("__oid")
    }
    val sib = dim.select(partitionKey.toSeq.map(col) :+ col(idCol): _*)
      .join(broadcast(other), cond)
      .groupBy(col(idCol))
      .agg(sortedRefs(refStruct(prefix, col("__oid"), col("__onm")))
        .as("siblings"))
    dim.join(broadcast(sib), Seq(idCol), "left")
      .withColumn("siblings", coalesce(col("siblings"), emptyRefs))
  }

  private def finishCounts(df: DataFrame): DataFrame =
    df.withColumn("works_count", coalesce(col("__wc"), lit(0)))
      .withColumn("cited_by_count",
        coalesce(col("__cc").cast("int"), lit(0)))
      .drop("entity_id", "__wc", "__cc")

  private def altNames(c: Column): Column =
    coalesce(from_json(c, lit("array<string>")),
      array().cast("array<string>"))

  /** domains_api (4 rows): children = fields reached through the
    * hierarchy, siblings = every other domain. */
  def domainsApi(domains: DataFrame, fields: DataFrame, hier: DataFrame,
      counts: DataFrame): DataFrame = {
    val domainFields = hier.select(col("domain_id"), col("field_id")).distinct()
      .join(broadcast(fields.select(col("field_id"), col("display_name"))),
        Seq("field_id"))
      .groupBy(col("domain_id"))
      .agg(sortedRefs(refStruct(FieldPrefix, col("field_id"),
        col("display_name"))).as("fields"))
    val base = withSiblings(domains, DomainPrefix, "domain_id")
      .join(broadcast(domainFields), Seq("domain_id"), "left")
      .join(broadcast(countsFor(counts, "domain")),
        col("domain_id") === col("entity_id"), "left")
    finishCounts(base).select(
      col("domain_id").as("id"),
      col("display_name"), col("description"),
      struct(idUrl(DomainPrefix, col("domain_id")).as("openalex"),
        col("wikidata_url").as("wikidata"),
        col("wikipedia_url").as("wikipedia")).as("ids"),
      altNames(col("display_name_alternatives"))
        .as("display_name_alternatives"),
      coalesce(col("fields"), emptyRefs).as("fields"),
      col("siblings"), col("works_count"), col("cited_by_count"),
      concat(lit("https://api.openalex.org/works?filter=topics.domain.id:"),
        col("domain_id").cast("string")).as("works_api_url"),
      lit(null).cast("timestamp").as("updated_date"),
      date_trunc("SECOND", col("created_date")).as("created_date"))
  }

  /** fields_api (~27 rows): parent domain via the hierarchy (fields
    * with no topic drop out — the notebook's inner join), children =
    * subfields, siblings = every other field. */
  def fieldsApi(fields: DataFrame, domains: DataFrame, subfields: DataFrame,
      hier: DataFrame, counts: DataFrame): DataFrame = {
    val fieldDomain = hier.select(col("field_id"), col("domain_id")).distinct()
      .join(broadcast(domains.select(col("domain_id"),
        col("display_name").as("__dn"))), Seq("domain_id"))
    val fieldSubfields = hier.select(col("field_id"), col("subfield_id"))
      .distinct()
      .join(broadcast(subfields.select(col("subfield_id"), col("display_name"))),
        Seq("subfield_id"))
      .groupBy(col("field_id"))
      .agg(sortedRefs(refStruct(SubfieldPrefix, col("subfield_id"),
        col("display_name"))).as("subfields"))
    val base = withSiblings(fields, FieldPrefix, "field_id")
      .join(broadcast(fieldDomain), Seq("field_id"))
      .join(broadcast(fieldSubfields), Seq("field_id"), "left")
      .join(broadcast(countsFor(counts, "field")),
        col("field_id") === col("entity_id"), "left")
    finishCounts(base).select(
      col("field_id").as("id"),
      col("display_name"), col("description"),
      struct(idUrl(FieldPrefix, col("field_id")).as("openalex"),
        col("wikidata_url").as("wikidata"),
        col("wikipedia_url").as("wikipedia")).as("ids"),
      altNames(col("display_name_alternatives"))
        .as("display_name_alternatives"),
      refStruct(DomainPrefix, col("domain_id"), col("__dn")).as("domain"),
      coalesce(col("subfields"), emptyRefs).as("subfields"),
      col("siblings"), col("works_count"), col("cited_by_count"),
      concat(lit("https://api.openalex.org/works?filter=topics.field.id:"),
        col("field_id").cast("string")).as("works_api_url"),
      lit(null).cast("timestamp").as("updated_date"),
      date_trunc("SECOND", col("created_date")).as("created_date"))
  }

  /** subfields_api (~250 rows): parents via the hierarchy triple
    * (inner join — a subfield under two fields duplicates, as in the
    * notebook), children = its topics, siblings = every other
    * subfield. */
  def subfieldsApi(subfields: DataFrame, fields: DataFrame,
      domains: DataFrame, topics: DataFrame, hier: DataFrame,
      counts: DataFrame): DataFrame = {
    val parents = hier
      .join(broadcast(fields.select(col("field_id"),
        col("display_name").as("__fn"))), Seq("field_id"))
      .join(broadcast(domains.select(col("domain_id"),
        col("display_name").as("__dn"))), Seq("domain_id"))
    val subfieldTopics = topics
      .groupBy(col("subfield_id"))
      .agg(sortedRefs(refStruct(TopicPrefix, col("topic_id"),
        col("display_name"))).as("topics"))
    val base = withSiblings(subfields, SubfieldPrefix, "subfield_id")
      .join(broadcast(parents), Seq("subfield_id"))
      .join(broadcast(subfieldTopics), Seq("subfield_id"), "left")
      .join(broadcast(countsFor(counts, "subfield")),
        col("subfield_id") === col("entity_id"), "left")
    finishCounts(base).select(
      col("subfield_id").as("id"),
      col("display_name"), col("description"),
      struct(idUrl(SubfieldPrefix, col("subfield_id")).as("openalex"),
        col("wikidata_url").as("wikidata"),
        col("wikipedia_url").as("wikipedia")).as("ids"),
      altNames(col("display_name_alternatives"))
        .as("display_name_alternatives"),
      refStruct(FieldPrefix, col("field_id"), col("__fn")).as("field"),
      refStruct(DomainPrefix, col("domain_id"), col("__dn")).as("domain"),
      coalesce(col("topics"), emptyRefs).as("topics"),
      col("siblings"), col("works_count"), col("cited_by_count"),
      concat(lit("https://api.openalex.org/works?filter=topics.subfield.id:"),
        col("subfield_id").cast("string")).as("works_api_url"),
      lit(null).cast("timestamp").as("updated_date"),
      date_trunc("SECOND", col("created_date")).as("created_date"))
  }

  /** topics_api (~4.5k rows): parents straight off the master row,
    * siblings = other topics of the SAME subfield, keywords split on
    * '; '. */
  def topicsApi(topics: DataFrame, subfields: DataFrame, fields: DataFrame,
      domains: DataFrame, counts: DataFrame): DataFrame = {
    val base = withSiblings(topics, TopicPrefix, "topic_id",
        partitionKey = Some("subfield_id"))
      .join(broadcast(subfields.select(col("subfield_id"),
        col("display_name").as("__sn"))), Seq("subfield_id"))
      .join(broadcast(fields.select(col("field_id"),
        col("display_name").as("__fn"))), Seq("field_id"))
      .join(broadcast(domains.select(col("domain_id"),
        col("display_name").as("__dn"))), Seq("domain_id"))
      .join(broadcast(countsFor(counts, "topic")),
        col("topic_id") === col("entity_id"), "left")
    finishCounts(base).select(
      col("topic_id").as("id"),
      col("display_name"),
      col("summary").as("description"),
      transform(split(col("keywords"), "; "), x => trim(x)).as("keywords"),
      struct(idUrl(TopicPrefix, col("topic_id")).as("openalex"),
        col("wikipedia_url").as("wikipedia")).as("ids"),
      refStruct(SubfieldPrefix, col("subfield_id"), col("__sn")).as("subfield"),
      refStruct(FieldPrefix, col("field_id"), col("__fn")).as("field"),
      refStruct(DomainPrefix, col("domain_id"), col("__dn")).as("domain"),
      col("siblings"), col("works_count"), col("cited_by_count"),
      concat(lit("https://api.openalex.org/works?filter=topics.id:T"),
        col("topic_id").cast("string")).as("works_api_url"),
      lit(null).cast("timestamp").as("updated_date"),
      date_trunc("SECOND", col("created_date")).as("created_date"))
  }

  // ---- hash-gated updated_date: the content strings the *_api_hash
  // snapshot and MERGE (graft.core.Incremental.stampUpdatedDate) hash ----

  import graft.core.Incremental.{contentJson => j, contentStr => s}

  /** The per-level CONCAT_WS('|') content strings — field lists
    * verbatim from the notebook's hash cells (derived URL fields and
    * the date columns excluded). */
  def topicsContentKey: Column = concat_ws("|",
    col("id").cast("string"), s(col("display_name"), ""),
    s(col("description"), ""), j(col("keywords"), "[]"),
    s(col("ids.openalex"), ""), s(col("ids.wikipedia"), ""),
    j(col("subfield"), "{}"), j(col("field"), "{}"), j(col("domain"), "{}"),
    j(col("siblings"), "[]"),
    s(col("works_count"), "0"), s(col("cited_by_count"), "0"))

  def subfieldsContentKey: Column = concat_ws("|",
    col("id").cast("string"), s(col("display_name"), ""),
    s(col("description"), ""),
    s(col("ids.openalex"), ""), s(col("ids.wikidata"), ""),
    s(col("ids.wikipedia"), ""),
    j(col("display_name_alternatives"), "[]"),
    j(col("field"), "{}"), j(col("domain"), "{}"),
    j(col("topics"), "[]"), j(col("siblings"), "[]"),
    s(col("works_count"), "0"), s(col("cited_by_count"), "0"))

  def fieldsContentKey: Column = concat_ws("|",
    col("id").cast("string"), s(col("display_name"), ""),
    s(col("description"), ""),
    s(col("ids.openalex"), ""), s(col("ids.wikidata"), ""),
    s(col("ids.wikipedia"), ""),
    j(col("display_name_alternatives"), "[]"),
    j(col("domain"), "{}"), j(col("subfields"), "[]"),
    j(col("siblings"), "[]"),
    s(col("works_count"), "0"), s(col("cited_by_count"), "0"))

  def domainsContentKey: Column = concat_ws("|",
    col("id").cast("string"), s(col("display_name"), ""),
    s(col("description"), ""),
    s(col("ids.openalex"), ""), s(col("ids.wikidata"), ""),
    s(col("ids.wikipedia"), ""),
    j(col("display_name_alternatives"), "[]"),
    j(col("fields"), "[]"), j(col("siblings"), "[]"),
    s(col("works_count"), "0"), s(col("cited_by_count"), "0"))
}
