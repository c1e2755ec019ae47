package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Incremental, Tables}

/** Oracle-gated queries for the topic-API compositions: the
  * award-topics pipeline (q76, notebooks/topics/award_topics_*) and
  * the topic-hierarchy API build (q77,
  * notebooks/topics/CreateTopicHierarchyApi.ipynb). Inputs are
  * synthesized deterministically from the driver fixtures; the DuckDB
  * oracles re-implement the full dataflows (gates, cleaning,
  * enrichment, children/sibling assembly, hash-gated updated_date)
  * independently.
  */
object TopicApiQueries {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** RE2 spelling of the model's skipped-script strip (shared with
    * q61's oracle). */
  private val skipRe2 =
    "[\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Arabic}\\p{Hangul}\\p{Thai}" +
      "\\p{Devanagari}\\p{Bengali}\\p{Thaana}\\p{Gujarati}\\p{Cyrillic}]"

  /** §2.9 AwardTopics (award_topics_create_input / _inference /
    * _merge_output): input selection (anti-join vs award_topics, both
    * text fields required, the majority-Latin1 description gate — %6==2
    * rows are CJK-dominant and drop), the inference-side text contract
    * (model_text assembly over script-stripped fields; %5==4
    * display_names are pure Han and strip empty; %6==5 descriptions
    * pass the byte-range gate but fail the stripped-ratio check, so
    * %5==4 ∧ %6==5 rows skip prediction with NULL lm_topics), the
    * label→topic-id mapping, and the merge source (stale rows with
    * non-Latin descriptions re-gated out, per-element 0.5 score floor
    * — an award whose best topic is under 0.5 vanishes — hierarchy
    * enrich, top-3 by score DESC / id ASC, round-4 scores). */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    import graft.awards.AwardTopics
    val c = t(s, dir, "customer")
    val ck = col("c_custkey")
    val awards = c.select(ck.cast("long").as("id"),
      when(ck % 7 === 0, lit(null).cast("string"))
        .when(ck % 5 === 4, lit("量子力学研究"))
        .otherwise(concat(lit("Grant "), ck.cast("string"),
          lit(" advanced study"))).as("display_name"),
      when(ck % 11 === 3, lit(null).cast("string"))
        .when(ck % 6 === 2, lit("非常に長い日本語の説明テキスト abc"))
        .when(ck % 6 === 5, lit("ああああ     abc"))
        .otherwise(concat(lit("Study of subject "), (ck % 40).cast("string"),
          lit(" with aims"))).as("description"))
    val existing = c.filter(ck % 9 === 0)
      .select(ck.cast("long").as("award_id"))
    val input = AwardTopics.createInput(awards, existing)

    val ik = col("award_id")
    def tnum(m: Int) = (pmod(ik * m, lit(25)) + 1).cast("int")
    def pred(tn: org.apache.spark.sql.Column) = struct(
      AwardTopics.labelToTopicId(concat(tn.cast("string"), lit(": Topic")))
        .as("topic_id"),
      (pmod(ik * 7 + tn * 13, lit(100)).cast("double") / 100.0).as("score"))
    val skip = AwardTopics.skipPrediction(col("display_name"),
      col("description"))
    val lmFresh = input.select(ik, col("description"),
      when(!skip, array(pred(tnum(1)), pred(tnum(3)), pred(tnum(9))))
        .as("lm_topics"),
      lit("bert").as("source"),
      elt((pmod(ik, lit(3)) + 1).cast("int"), lit("2024-03-01"),
        lit("2024-03-02"), lit("2024-03-03")).cast("timestamp")
        .as("created_timestamp"))
    val lmStale = c.filter(ck % 13 === 0).select(
      (ck + 100000).cast("long").as("award_id"),
      lit("研究プロジェクトの概要説明").as("description"),
      array(struct(lit(10001).as("topic_id"), lit(0.99).as("score")))
        .as("lm_topics"),
      lit("bert").as("source"),
      lit("2024-03-05").cast("timestamp").as("created_timestamp"))
    val lm = lmFresh.unionByName(lmStale)

    val tnumMeta = ck + 1
    val meta = c.filter(ck < 25).select(
      (tnumMeta + 10000).cast("int").as("topic_id"),
      concat(lit("Topic "), tnumMeta.cast("string")).as("display_name"),
      struct(concat(lit("https://openalex.org/subfields/"),
          (lit(1701) + tnumMeta % 6).cast("string")).as("id"),
        concat(lit("Subfield "), (tnumMeta % 6).cast("string"))
          .as("display_name")).as("subfield"),
      struct(concat(lit("https://openalex.org/fields/"),
          (lit(11) + tnumMeta % 4).cast("string")).as("id"),
        concat(lit("Field "), (tnumMeta % 4).cast("string"))
          .as("display_name")).as("field"),
      struct(concat(lit("https://openalex.org/domains/"),
          (lit(1) + tnumMeta % 2).cast("string")).as("id"),
        concat(lit("Domain "), (tnumMeta % 2).cast("string"))
          .as("display_name")).as("domain"))

    val merged = AwardTopics.mergeSource(lm, meta)
    val base = input.select(ik, lit(1).as("in_input"),
        skip.cast("int").as("skip_pred"),
        AwardTopics.modelText(col("display_name"), col("description"))
          .as("model_text"))
      .unionByName(lmStale.select(ik, lit(0).as("in_input"),
        lit(null).cast("int").as("skip_pred"),
        lit(null).cast("string").as("model_text")))
    base.join(merged, Seq("award_id"), "left")
      .select(col("award_id"), col("in_input"), col("skip_pred"),
        col("model_text"),
        when(col("topics").isNotNull, size(col("topics"))).as("n_topics"),
        to_json(col("topics")).as("topics_json"),
        col("source").as("src"),
        date_format(col("created_datetime"), "yyyy-MM-dd").as("created_d"),
        date_format(col("updated_datetime"), "yyyy-MM-dd").as("updated_d"))
  }

  private val q76Oracle: String =
    s"""WITH a AS (SELECT c_custkey AS ck FROM customer),
       |aw AS (SELECT ck, CAST(ck AS BIGINT) AS award_id,
       |  CASE WHEN ck % 7 = 0 THEN NULL
       |       WHEN ck % 5 = 4 THEN '量子力学研究'
       |       ELSE 'Grant ' || CAST(ck AS VARCHAR) || ' advanced study'
       |  END AS dn,
       |  CASE WHEN ck % 11 = 3 THEN NULL
       |       WHEN ck % 6 = 2 THEN '非常に長い日本語の説明テキスト abc'
       |       WHEN ck % 6 = 5 THEN 'ああああ     abc'
       |       ELSE 'Study of subject ' || CAST(ck % 40 AS VARCHAR)
       |         || ' with aims'
       |  END AS descr
       |  FROM a),
       |inp AS (SELECT * FROM aw
       |  WHERE ck % 9 <> 0 AND dn IS NOT NULL AND descr IS NOT NULL
       |    AND length(regexp_replace(descr, '[^\\x00-\\xff]', '', 'g'))
       |      >= length(descr) * 0.5),
       |cln AS (SELECT *,
       |  regexp_replace(dn, '$skipRe2', '', 'g') AS dnc,
       |  regexp_replace(descr, '$skipRe2', '', 'g') AS dsc FROM inp),
       |g AS (SELECT *,
       |  (length(replace(dn, ' ', '')) > 0 AND
       |    1.0 - CAST(length(replace(dnc, ' ', '')) AS DOUBLE)
       |      / length(replace(dn, ' ', '')) > 0.5) AS dn_str,
       |  (length(replace(descr, ' ', '')) > 0 AND
       |    1.0 - CAST(length(replace(dsc, ' ', '')) AS DOUBLE)
       |      / length(replace(descr, ' ', '')) > 0.5) AS ds_str
       |  FROM cln),
       |gg AS (SELECT *, (dn_str AND ds_str) AS skip FROM g),
       |preds AS (SELECT award_id, ck,
       |    10000 + (ck * m) % 25 + 1 AS tid,
       |    CAST((ck * 7 + ((ck * m) % 25 + 1) * 13) % 100 AS DOUBLE) / 100.0
       |      AS score
       |  FROM gg, (VALUES (1), (3), (9)) mm(m) WHERE NOT skip),
       |meta AS (SELECT CAST(10000 + c_custkey + 1 AS INTEGER) AS tid,
       |    'Topic ' || CAST(c_custkey + 1 AS VARCHAR) AS tnm,
       |    struct_pack(id := 'https://openalex.org/subfields/'
       |        || CAST(1701 + (c_custkey + 1) % 6 AS VARCHAR),
       |      display_name := 'Subfield '
       |        || CAST((c_custkey + 1) % 6 AS VARCHAR)) AS sf,
       |    struct_pack(id := 'https://openalex.org/fields/'
       |        || CAST(11 + (c_custkey + 1) % 4 AS VARCHAR),
       |      display_name := 'Field '
       |        || CAST((c_custkey + 1) % 4 AS VARCHAR)) AS fl,
       |    struct_pack(id := 'https://openalex.org/domains/'
       |        || CAST(1 + (c_custkey + 1) % 2 AS VARCHAR),
       |      display_name := 'Domain '
       |        || CAST((c_custkey + 1) % 2 AS VARCHAR)) AS dm
       |  FROM customer WHERE c_custkey < 25),
       |mg AS (SELECT award_id,
       |    list(struct_pack(
       |      id := 'https://openalex.org/T' || CAST(p.tid AS VARCHAR),
       |      display_name := tnm, score := round(score, 4), subfield := sf,
       |      field := fl, domain := dm)
       |      ORDER BY score DESC,
       |        'https://openalex.org/T' || CAST(p.tid AS VARCHAR) ASC)[1:3]
       |      AS topics,
       |    max(CASE ck % 3 WHEN 0 THEN '2024-03-01' WHEN 1 THEN '2024-03-02'
       |      ELSE '2024-03-03' END) AS cd
       |  FROM preds p JOIN meta ON meta.tid = p.tid
       |  WHERE score >= 0.5 GROUP BY award_id),
       |base AS (
       |  SELECT award_id, 1 AS in_input, CAST(skip AS INTEGER) AS skip_pred,
       |    '[CLS]<TITLE> ' || trim(dnc) || ' <ABSTRACT> ' || trim(dsc)
       |      || ' [SEP]' AS model_text
       |  FROM gg
       |  UNION ALL
       |  SELECT CAST(ck + 100000 AS BIGINT), 0, NULL, NULL
       |  FROM a WHERE ck % 13 = 0)
       |SELECT b.award_id, b.in_input, b.skip_pred, b.model_text,
       |  CAST(len(m.topics) AS INTEGER) AS n_topics,
       |  CAST(to_json(m.topics) AS VARCHAR) AS topics_json,
       |  CASE WHEN m.award_id IS NOT NULL THEN 'bert' END AS src,
       |  m.cd AS created_d, m.cd AS updated_d
       |FROM base b LEFT JOIN mg m ON b.award_id = m.award_id""".stripMargin

  /** §2.4 TopicHierarchy (CreateTopicHierarchyApi.ipynb): the four API
    * levels in one tall result — hierarchy derived from the topics
    * master (30 topics / 8 subfields / 4 fields + an orphan field 15
    * and orphan subfield 1709 that the inner joins drop / 2 domains),
    * children + sibling lists, the single-pass primary-topic rollup
    * (works route by o_orderkey%30; %9==0 rows carry a NULL
    * primary_topic and are filtered), and the hash-gated updated_date
    * across two generations: gen2 adds odd-keyed works for topics 1-10
    * (all subfield/field/domain rows change) and a NEW topic 30 (the
    * insert branch; its subfield-1707 siblings t=6,14,22 change via
    * their sibling lists alone — counts untouched), while topics 11-29
    * outside subfield 1707 keep the old date. */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    import graft.entities.TopicHierarchy
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val i = col("c_custkey")
    val created = lit("2024-01-15 08:30:45.75").cast("timestamp")
    val domains = c.filter(i < 2).select(
      (i + 1).cast("int").as("domain_id"),
      concat(lit("Domain "), (i + 1).cast("string")).as("display_name"),
      concat(lit("Domain desc "), (i + 1).cast("string")).as("description"),
      when(i === 0, lit("https://www.wikidata.org/wiki/QD1"))
        .as("wikidata_url"),
      concat(lit("https://en.wikipedia.org/wiki/Domain_"),
        (i + 1).cast("string")).as("wikipedia_url"),
      when(i === 0, lit("""["Alternative D1","Alt D1"]"""))
        .as("display_name_alternatives"),
      created.as("created_date"))
    val fields = c.filter(i < 5).select(
      (i + 11).cast("int").as("field_id"),
      concat(lit("Field "), (i + 11).cast("string")).as("display_name"),
      concat(lit("Field desc "), (i + 11).cast("string")).as("description"),
      when((i + 11) % 2 === 1, concat(lit("https://www.wikidata.org/wiki/QF"),
        (i + 11).cast("string"))).as("wikidata_url"),
      concat(lit("https://en.wikipedia.org/wiki/Field_"),
        (i + 11).cast("string")).as("wikipedia_url"),
      when((i + 11) % 2 === 0, concat(lit("[\"AltF"), (i + 11).cast("string"),
        lit("\"]"))).as("display_name_alternatives"),
      created.as("created_date"))
    val subfields = c.filter(i < 9).select(
      (i + 1701).cast("int").as("subfield_id"),
      concat(lit("Subfield "), (i + 1701).cast("string")).as("display_name"),
      concat(lit("Subfield desc "), (i + 1701).cast("string"))
        .as("description"),
      when(i % 3 === 0, concat(lit("https://www.wikidata.org/wiki/QS"),
        (i + 1701).cast("string"))).as("wikidata_url"),
      concat(lit("https://en.wikipedia.org/wiki/Subfield_"),
        (i + 1701).cast("string")).as("wikipedia_url"),
      when(i % 2 === 1, concat(lit("[\"AltS"), (i + 1701).cast("string"),
        lit("\"]"))).as("display_name_alternatives"),
      created.as("created_date"))
    def topicsDim(maxT: Int) = c.filter(i < maxT).select(
      (i + 1 + 10000).cast("int").as("topic_id"),
      concat(lit("Topic "), (i + 1).cast("string")).as("display_name"),
      concat(lit("Summary "), (i + 1).cast("string")).as("summary"),
      concat(lit("alpha "), (i + 1).cast("string"), lit("; beta "),
        (i + 1).cast("string")).as("keywords"),
      concat(lit("https://en.wikipedia.org/wiki/T"), (i + 1).cast("string"))
        .as("wikipedia_url"),
      (lit(1701) + (i + 1) % 8).cast("int").as("subfield_id"),
      (lit(11) + ((i + 1) % 8) % 4).cast("int").as("field_id"),
      (lit(1) + ((i + 1) % 8) % 2).cast("int").as("domain_id"),
      created.as("created_date"))
    val topics2 = topicsDim(30); val topics1 = topicsDim(29)

    val k = col("o_orderkey")
    val tnum = pmod(k, lit(30)) + 1
    val idx = pmod(tnum, lit(8))
    val works2 = o.select(k.as("id"), pmod(k, lit(50)).as("cited_by_count"),
      when(pmod(k, lit(9)) =!= 0, struct(
        concat(lit("https://openalex.org/T"), (tnum + 10000).cast("string"))
          .as("id"),
        struct(concat(lit("https://openalex.org/subfields/"),
          (idx + 1701).cast("string")).as("id")).as("subfield"),
        struct(concat(lit("https://openalex.org/fields/"),
          (pmod(idx, lit(4)) + 11).cast("string")).as("id")).as("field"),
        struct(concat(lit("https://openalex.org/domains/"),
          (pmod(idx, lit(2)) + 1).cast("string")).as("id")).as("domain")))
        .as("primary_topic"))
    val works1 = works2.filter(
      pmod(col("id"), lit(2)) === 0 || pmod(col("id"), lit(30)) >= 10)

    def apis(topics: DataFrame, works: DataFrame) = {
      val counts = TopicHierarchy.levelCounts(
        TopicHierarchy.primaryTopics(works))
      val hier = TopicHierarchy.hierarchy(topics)
      (TopicHierarchy.domainsApi(domains, fields, hier, counts),
        TopicHierarchy.fieldsApi(fields, domains, subfields, hier, counts),
        TopicHierarchy.subfieldsApi(subfields, fields, domains, topics, hier,
          counts),
        TopicHierarchy.topicsApi(topics, subfields, fields, domains, counts))
    }
    val (d1, f1, s1, t1) = apis(topics1, works1)
    val (d2, f2, s2, t2) = apis(topics2, works2)
    val old = lit("2024-01-01").cast("timestamp")
    val now = lit("2024-06-01").cast("timestamp")
    def stamped(gen1: DataFrame, gen2: DataFrame,
        key: org.apache.spark.sql.Column) =
      Incremental.stampUpdatedDate(gen2, broadcast(
        Incremental.hashSnapshot(gen1.withColumn("updated_date", old), key)),
        key, now)
    val dS = stamped(d1, d2, TopicHierarchy.domainsContentKey)
    val fS = stamped(f1, f2, TopicHierarchy.fieldsContentKey)
    val sS = stamped(s1, s2, TopicHierarchy.subfieldsContentKey)
    val tS = stamped(t1, t2, TopicHierarchy.topicsContentKey)

    val nullS = lit(null).cast("string")
    def common(df: DataFrame) = df.select(col("level"), col("id"),
      col("display_name"), col("description"), col("keywords_json"),
      col("ids_openalex"), col("ids_wikidata"), col("ids_wikipedia"),
      col("alt_json"), col("subfield_json"), col("field_json"),
      col("domain_json"), col("children_json"), col("siblings_json"),
      col("works_count"), col("cited_by_count"), col("works_api_url"),
      date_format(col("updated_date"), "yyyy-MM-dd").as("updated_d"),
      date_format(col("created_date"), "yyyy-MM-dd HH:mm:ss").as("created_d"))
    val tOut = common(tS.withColumn("level", lit("topic"))
      .withColumn("keywords_json", to_json(col("keywords")))
      .withColumn("ids_openalex", col("ids.openalex"))
      .withColumn("ids_wikidata", nullS)
      .withColumn("ids_wikipedia", col("ids.wikipedia"))
      .withColumn("alt_json", nullS)
      .withColumn("subfield_json", to_json(col("subfield")))
      .withColumn("field_json", to_json(col("field")))
      .withColumn("domain_json", to_json(col("domain")))
      .withColumn("children_json", nullS)
      .withColumn("siblings_json", to_json(col("siblings"))))
    val sOut = common(sS.withColumn("level", lit("subfield"))
      .withColumn("keywords_json", nullS)
      .withColumn("ids_openalex", col("ids.openalex"))
      .withColumn("ids_wikidata", col("ids.wikidata"))
      .withColumn("ids_wikipedia", col("ids.wikipedia"))
      .withColumn("alt_json", to_json(col("display_name_alternatives")))
      .withColumn("subfield_json", nullS)
      .withColumn("field_json", to_json(col("field")))
      .withColumn("domain_json", to_json(col("domain")))
      .withColumn("children_json", to_json(col("topics")))
      .withColumn("siblings_json", to_json(col("siblings"))))
    val fOut = common(fS.withColumn("level", lit("field"))
      .withColumn("keywords_json", nullS)
      .withColumn("ids_openalex", col("ids.openalex"))
      .withColumn("ids_wikidata", col("ids.wikidata"))
      .withColumn("ids_wikipedia", col("ids.wikipedia"))
      .withColumn("alt_json", to_json(col("display_name_alternatives")))
      .withColumn("subfield_json", nullS)
      .withColumn("field_json", nullS)
      .withColumn("domain_json", to_json(col("domain")))
      .withColumn("children_json", to_json(col("subfields")))
      .withColumn("siblings_json", to_json(col("siblings"))))
    val dOut = common(dS.withColumn("level", lit("domain"))
      .withColumn("keywords_json", nullS)
      .withColumn("ids_openalex", col("ids.openalex"))
      .withColumn("ids_wikidata", col("ids.wikidata"))
      .withColumn("ids_wikipedia", col("ids.wikipedia"))
      .withColumn("alt_json", to_json(col("display_name_alternatives")))
      .withColumn("subfield_json", nullS)
      .withColumn("field_json", nullS)
      .withColumn("domain_json", nullS)
      .withColumn("children_json", to_json(col("fields")))
      .withColumn("siblings_json", to_json(col("siblings"))))
    tOut.unionByName(sOut).unionByName(fOut).unionByName(dOut)
  }

  private val q77Oracle: String =
    """WITH ix AS (SELECT c_custkey AS i FROM customer),
      |dm AS (SELECT CAST(i + 1 AS INTEGER) AS id,
      |    'Domain ' || CAST(i + 1 AS VARCHAR) AS dn,
      |    'Domain desc ' || CAST(i + 1 AS VARCHAR) AS ds,
      |    CASE WHEN i = 0 THEN 'https://www.wikidata.org/wiki/QD1' END AS wd,
      |    'https://en.wikipedia.org/wiki/Domain_' || CAST(i + 1 AS VARCHAR)
      |      AS wp,
      |    CASE WHEN i = 0 THEN ['Alternative D1', 'Alt D1']
      |      ELSE CAST([] AS VARCHAR[]) END AS alt
      |  FROM ix WHERE i < 2),
      |fl AS (SELECT CAST(i + 11 AS INTEGER) AS id,
      |    'Field ' || CAST(i + 11 AS VARCHAR) AS dn,
      |    'Field desc ' || CAST(i + 11 AS VARCHAR) AS ds,
      |    CASE WHEN (i + 11) % 2 = 1
      |      THEN 'https://www.wikidata.org/wiki/QF' || CAST(i + 11 AS VARCHAR)
      |    END AS wd,
      |    'https://en.wikipedia.org/wiki/Field_' || CAST(i + 11 AS VARCHAR)
      |      AS wp,
      |    CASE WHEN (i + 11) % 2 = 0 THEN ['AltF' || CAST(i + 11 AS VARCHAR)]
      |      ELSE CAST([] AS VARCHAR[]) END AS alt
      |  FROM ix WHERE i < 5),
      |sf AS (SELECT CAST(i + 1701 AS INTEGER) AS id,
      |    'Subfield ' || CAST(i + 1701 AS VARCHAR) AS dn,
      |    'Subfield desc ' || CAST(i + 1701 AS VARCHAR) AS ds,
      |    CASE WHEN i % 3 = 0
      |      THEN 'https://www.wikidata.org/wiki/QS' || CAST(i + 1701 AS VARCHAR)
      |    END AS wd,
      |    'https://en.wikipedia.org/wiki/Subfield_' || CAST(i + 1701 AS VARCHAR)
      |      AS wp,
      |    CASE WHEN i % 2 = 1 THEN ['AltS' || CAST(i + 1701 AS VARCHAR)]
      |      ELSE CAST([] AS VARCHAR[]) END AS alt
      |  FROM ix WHERE i < 9),
      |tp2 AS (SELECT i + 1 AS t, CAST(10000 + i + 1 AS INTEGER) AS id,
      |    'Topic ' || CAST(i + 1 AS VARCHAR) AS dn,
      |    'Summary ' || CAST(i + 1 AS VARCHAR) AS ds,
      |    ['alpha ' || CAST(i + 1 AS VARCHAR),
      |     'beta ' || CAST(i + 1 AS VARCHAR)] AS kw,
      |    'https://en.wikipedia.org/wiki/T' || CAST(i + 1 AS VARCHAR) AS wp,
      |    CAST(1701 + (i + 1) % 8 AS INTEGER) AS sfid,
      |    CAST(11 + ((i + 1) % 8) % 4 AS INTEGER) AS fid,
      |    CAST(1 + ((i + 1) % 8) % 2 AS INTEGER) AS did
      |  FROM ix WHERE i < 30),
      |tp1 AS (SELECT * FROM tp2 WHERE t < 30),
      |w2 AS (SELECT o_orderkey AS k, o_orderkey % 50 AS cited,
      |    1 + o_orderkey % 30 AS t
      |  FROM orders WHERE o_orderkey % 9 <> 0),
      |w1 AS (SELECT * FROM w2 WHERE k % 2 = 0 OR k % 30 >= 10),
      |wx2 AS (SELECT k, cited, CAST(10000 + t AS INTEGER) AS tid,
      |    CAST(1701 + t % 8 AS INTEGER) AS sfid,
      |    CAST(11 + (t % 8) % 4 AS INTEGER) AS fid,
      |    CAST(1 + (t % 8) % 2 AS INTEGER) AS did FROM w2),
      |wx1 AS (SELECT k, cited, CAST(10000 + t AS INTEGER) AS tid,
      |    CAST(1701 + t % 8 AS INTEGER) AS sfid,
      |    CAST(11 + (t % 8) % 4 AS INTEGER) AS fid,
      |    CAST(1 + (t % 8) % 2 AS INTEGER) AS did FROM w1),
      |tc2 AS (SELECT tid AS id, CAST(count(*) AS INTEGER) AS wc,
      |    sum(cited) AS cc FROM wx2 GROUP BY tid),
      |tc1 AS (SELECT tid AS id, CAST(count(*) AS INTEGER) AS wc,
      |    sum(cited) AS cc FROM wx1 GROUP BY tid),
      |sc2 AS (SELECT sfid AS id, CAST(count(*) AS INTEGER) AS wc,
      |    sum(cited) AS cc FROM wx2 GROUP BY sfid),
      |sc1 AS (SELECT sfid AS id, CAST(count(*) AS INTEGER) AS wc,
      |    sum(cited) AS cc FROM wx1 GROUP BY sfid),
      |fc2 AS (SELECT fid AS id, CAST(count(*) AS INTEGER) AS wc,
      |    sum(cited) AS cc FROM wx2 GROUP BY fid),
      |fc1 AS (SELECT fid AS id, CAST(count(*) AS INTEGER) AS wc,
      |    sum(cited) AS cc FROM wx1 GROUP BY fid),
      |dc2 AS (SELECT did AS id, CAST(count(*) AS INTEGER) AS wc,
      |    sum(cited) AS cc FROM wx2 GROUP BY did),
      |dc1 AS (SELECT did AS id, CAST(count(*) AS INTEGER) AS wc,
      |    sum(cited) AS cc FROM wx1 GROUP BY did),
      |hier AS (SELECT DISTINCT sfid, fid, did FROM tp2),
      |dchil AS (SELECT did, list(struct_pack(
      |    id := 'https://openalex.org/fields/' || CAST(h.fid AS VARCHAR),
      |    display_name := f.dn)
      |    ORDER BY 'https://openalex.org/fields/' || CAST(h.fid AS VARCHAR))
      |    AS ch
      |  FROM (SELECT DISTINCT did, fid FROM hier) h JOIN fl f ON h.fid = f.id
      |  GROUP BY did),
      |dsib AS (SELECT d1.id, list(struct_pack(
      |    id := 'https://openalex.org/domains/' || CAST(d2.id AS VARCHAR),
      |    display_name := d2.dn)
      |    ORDER BY 'https://openalex.org/domains/' || CAST(d2.id AS VARCHAR))
      |    AS sib
      |  FROM dm d1 JOIN dm d2 ON d1.id <> d2.id GROUP BY d1.id),
      |fchil AS (SELECT fid, list(struct_pack(
      |    id := 'https://openalex.org/subfields/' || CAST(h.sfid AS VARCHAR),
      |    display_name := s.dn)
      |    ORDER BY 'https://openalex.org/subfields/' || CAST(h.sfid AS VARCHAR))
      |    AS ch
      |  FROM (SELECT DISTINCT fid, sfid FROM hier) h JOIN sf s ON h.sfid = s.id
      |  GROUP BY fid),
      |fsib AS (SELECT f1.id, list(struct_pack(
      |    id := 'https://openalex.org/fields/' || CAST(f2.id AS VARCHAR),
      |    display_name := f2.dn)
      |    ORDER BY 'https://openalex.org/fields/' || CAST(f2.id AS VARCHAR))
      |    AS sib
      |  FROM fl f1 JOIN fl f2 ON f1.id <> f2.id GROUP BY f1.id),
      |schil2 AS (SELECT sfid, list(struct_pack(
      |    id := 'https://openalex.org/T' || CAST(t.id AS VARCHAR),
      |    display_name := t.dn)
      |    ORDER BY 'https://openalex.org/T' || CAST(t.id AS VARCHAR)) AS ch
      |  FROM tp2 t GROUP BY sfid),
      |schil1 AS (SELECT sfid, list(struct_pack(
      |    id := 'https://openalex.org/T' || CAST(t.id AS VARCHAR),
      |    display_name := t.dn)
      |    ORDER BY 'https://openalex.org/T' || CAST(t.id AS VARCHAR)) AS ch
      |  FROM tp1 t GROUP BY sfid),
      |ssib AS (SELECT s1.id, list(struct_pack(
      |    id := 'https://openalex.org/subfields/' || CAST(s2.id AS VARCHAR),
      |    display_name := s2.dn)
      |    ORDER BY 'https://openalex.org/subfields/' || CAST(s2.id AS VARCHAR))
      |    AS sib
      |  FROM sf s1 JOIN sf s2 ON s1.id <> s2.id GROUP BY s1.id),
      |tsib2 AS (SELECT t1.id, list(struct_pack(
      |    id := 'https://openalex.org/T' || CAST(t2.id AS VARCHAR),
      |    display_name := t2.dn)
      |    ORDER BY 'https://openalex.org/T' || CAST(t2.id AS VARCHAR)) AS sib
      |  FROM tp2 t1 JOIN tp2 t2 ON t1.sfid = t2.sfid AND t1.id <> t2.id
      |  GROUP BY t1.id),
      |tsib1 AS (SELECT t1.id, list(struct_pack(
      |    id := 'https://openalex.org/T' || CAST(t2.id AS VARCHAR),
      |    display_name := t2.dn)
      |    ORDER BY 'https://openalex.org/T' || CAST(t2.id AS VARCHAR)) AS sib
      |  FROM tp1 t1 JOIN tp1 t2 ON t1.sfid = t2.sfid AND t1.id <> t2.id
      |  GROUP BY t1.id)
      |SELECT 'topic' AS level, t.id, t.dn AS display_name,
      |  t.ds AS description,
      |  CAST(to_json(t.kw) AS VARCHAR) AS keywords_json,
      |  'https://openalex.org/T' || CAST(t.id AS VARCHAR) AS ids_openalex,
      |  NULL AS ids_wikidata, t.wp AS ids_wikipedia, NULL AS alt_json,
      |  CAST(to_json(struct_pack(
      |    id := 'https://openalex.org/subfields/' || CAST(t.sfid AS VARCHAR),
      |    display_name := s.dn)) AS VARCHAR) AS subfield_json,
      |  CAST(to_json(struct_pack(
      |    id := 'https://openalex.org/fields/' || CAST(t.fid AS VARCHAR),
      |    display_name := f.dn)) AS VARCHAR) AS field_json,
      |  CAST(to_json(struct_pack(
      |    id := 'https://openalex.org/domains/' || CAST(t.did AS VARCHAR),
      |    display_name := d.dn)) AS VARCHAR) AS domain_json,
      |  NULL AS children_json,
      |  CAST(to_json(coalesce(sb2.sib, [])) AS VARCHAR) AS siblings_json,
      |  coalesce(c2.wc, 0) AS works_count,
      |  CAST(coalesce(c2.cc, 0) AS INTEGER) AS cited_by_count,
      |  'https://api.openalex.org/works?filter=topics.id:T'
      |    || CAST(t.id AS VARCHAR) AS works_api_url,
      |  CASE WHEN t.t = 30 OR c1.wc IS DISTINCT FROM c2.wc
      |      OR c1.cc IS DISTINCT FROM c2.cc
      |      OR coalesce(sb1.sib, []) IS DISTINCT FROM coalesce(sb2.sib, [])
      |    THEN '2024-06-01' ELSE '2024-01-01' END AS updated_d,
      |  '2024-01-15 08:30:45' AS created_d
      |FROM tp2 t JOIN sf s ON t.sfid = s.id JOIN fl f ON t.fid = f.id
      |JOIN dm d ON t.did = d.id
      |LEFT JOIN tsib2 sb2 ON t.id = sb2.id
      |LEFT JOIN tsib1 sb1 ON t.id = sb1.id
      |LEFT JOIN tc2 c2 ON t.id = c2.id LEFT JOIN tc1 c1 ON t.id = c1.id
      |UNION ALL
      |SELECT 'subfield', s.id, s.dn, s.ds, NULL,
      |  'https://openalex.org/subfields/' || CAST(s.id AS VARCHAR),
      |  s.wd, s.wp, CAST(to_json(s.alt) AS VARCHAR),
      |  NULL,
      |  CAST(to_json(struct_pack(
      |    id := 'https://openalex.org/fields/' || CAST(h.fid AS VARCHAR),
      |    display_name := f.dn)) AS VARCHAR),
      |  CAST(to_json(struct_pack(
      |    id := 'https://openalex.org/domains/' || CAST(h.did AS VARCHAR),
      |    display_name := d.dn)) AS VARCHAR),
      |  CAST(to_json(coalesce(ch2.ch, [])) AS VARCHAR),
      |  CAST(to_json(coalesce(sb.sib, [])) AS VARCHAR),
      |  coalesce(c2.wc, 0), CAST(coalesce(c2.cc, 0) AS INTEGER),
      |  'https://api.openalex.org/works?filter=topics.subfield.id:'
      |    || CAST(s.id AS VARCHAR),
      |  CASE WHEN c1.wc IS DISTINCT FROM c2.wc
      |      OR c1.cc IS DISTINCT FROM c2.cc
      |      OR coalesce(ch1.ch, []) IS DISTINCT FROM coalesce(ch2.ch, [])
      |    THEN '2024-06-01' ELSE '2024-01-01' END,
      |  '2024-01-15 08:30:45'
      |FROM sf s JOIN hier h ON s.id = h.sfid
      |JOIN fl f ON h.fid = f.id JOIN dm d ON h.did = d.id
      |LEFT JOIN schil2 ch2 ON s.id = ch2.sfid
      |LEFT JOIN schil1 ch1 ON s.id = ch1.sfid
      |LEFT JOIN ssib sb ON s.id = sb.id
      |LEFT JOIN sc2 c2 ON s.id = c2.id LEFT JOIN sc1 c1 ON s.id = c1.id
      |UNION ALL
      |SELECT 'field', f.id, f.dn, f.ds, NULL,
      |  'https://openalex.org/fields/' || CAST(f.id AS VARCHAR),
      |  f.wd, f.wp, CAST(to_json(f.alt) AS VARCHAR),
      |  NULL, NULL,
      |  CAST(to_json(struct_pack(
      |    id := 'https://openalex.org/domains/' || CAST(fd.did AS VARCHAR),
      |    display_name := d.dn)) AS VARCHAR),
      |  CAST(to_json(coalesce(ch.ch, [])) AS VARCHAR),
      |  CAST(to_json(coalesce(sb.sib, [])) AS VARCHAR),
      |  coalesce(c2.wc, 0), CAST(coalesce(c2.cc, 0) AS INTEGER),
      |  'https://api.openalex.org/works?filter=topics.field.id:'
      |    || CAST(f.id AS VARCHAR),
      |  CASE WHEN c1.wc IS DISTINCT FROM c2.wc
      |      OR c1.cc IS DISTINCT FROM c2.cc
      |    THEN '2024-06-01' ELSE '2024-01-01' END,
      |  '2024-01-15 08:30:45'
      |FROM fl f JOIN (SELECT DISTINCT fid, did FROM hier) fd ON f.id = fd.fid
      |JOIN dm d ON fd.did = d.id
      |LEFT JOIN fchil ch ON f.id = ch.fid
      |LEFT JOIN fsib sb ON f.id = sb.id
      |LEFT JOIN fc2 c2 ON f.id = c2.id LEFT JOIN fc1 c1 ON f.id = c1.id
      |UNION ALL
      |SELECT 'domain', d.id, d.dn, d.ds, NULL,
      |  'https://openalex.org/domains/' || CAST(d.id AS VARCHAR),
      |  d.wd, d.wp, CAST(to_json(d.alt) AS VARCHAR),
      |  NULL, NULL, NULL,
      |  CAST(to_json(coalesce(ch.ch, [])) AS VARCHAR),
      |  CAST(to_json(coalesce(sb.sib, [])) AS VARCHAR),
      |  coalesce(c2.wc, 0), CAST(coalesce(c2.cc, 0) AS INTEGER),
      |  'https://api.openalex.org/works?filter=topics.domain.id:'
      |    || CAST(d.id AS VARCHAR),
      |  CASE WHEN c1.wc IS DISTINCT FROM c2.wc
      |      OR c1.cc IS DISTINCT FROM c2.cc
      |    THEN '2024-06-01' ELSE '2024-01-01' END,
      |  '2024-01-15 08:30:45'
      |FROM dm d
      |LEFT JOIN dchil ch ON d.id = ch.did
      |LEFT JOIN dsib sb ON d.id = sb.id
      |LEFT JOIN dc2 c2 ON d.id = c2.id LEFT JOIN dc1 c1 ON d.id = c1.id"""
      .stripMargin

  val queries: Map[String, Q] = Map(
    "q76_award_topics" -> (q76 _),
    "q77_topic_hierarchy" -> (q77 _))

  val oracle: Map[String, String] = Map(
    "q76_award_topics" -> q76Oracle,
    "q77_topic_hierarchy" -> q77Oracle)
}
