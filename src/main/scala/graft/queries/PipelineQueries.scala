package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Incremental, Tables}
import graft.resolve.SourceMatcher

/** Oracle-gated queries for the round-6 pipeline modules: the
  * locations→sources matcher (q71). Inputs are synthesized
  * deterministically from the driver fixtures; each DuckDB oracle
  * structurally mirrors the tier joins/dedups while reducing the
  * work-side `ids[]` array extraction to its scalar equivalent (the
  * synthesis rule says exactly which id each row carries).
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** §2.3 SourceMatcher (CreateLocationsWithSources.ipynb:73-87 CTAS +
    * the cells 3-7 post-passes): provenance-routed tiers — ISSN-ranked
    * (eissn > lissn > pissn) explode for crossref, endpoint_id for
    * repo, datacite_client for datacite, the PubMed constant — then
    * display-name-unique fallback, the manual url/doi/name/publisher
    * cascade, the ebook-platform normalized-publisher book match, and
    * the normalized display-name final fallback. Registry synthesized
    * from customer (ids custkey+100; %25 merged away, 140/280 on the
    * exclusion list, %9 share a duplicate display name, %4 carry a
    * datacite client id, %8==1 are ebook platforms with publishers —
    * ids 105/113 a normalized-publisher collision); locations from
    * orders routed by k%6, plus k%4==1 "X" rows exercising the
    * post-passes (punctuated names matching only after normalization,
    * book-raw-typed publisher matches incl. the collision drop and a
    * non-book raw_type negative). */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val ck = col("c_custkey")
    val sid = (ck + 100).cast("long")
    val sources = c.filter(ck < 300).select(
      sid.as("id"),
      when(sid % 9 === 0, lit("Dup Journal"))
        .otherwise(concat(lit("Journal "), sid.cast("string"))).as("display_name"),
      when(sid % 10 === 3,
          array(concat(lit("is-"), (sid % 120).cast("string")),
            concat(lit("is2-"), sid.cast("string"))))
        .otherwise(array(concat(lit("is-"), (sid % 120).cast("string"))))
        .as("issns"),
      when(sid % 4 === 0, array(concat(lit("dc-"), (sid % 60).cast("string"))))
        .as("datacite_ids"),
      (sid % 2 === 0).as("is_oa"),
      when(sid % 25 === 0, sid + 1).as("merge_into_id"),
      when(sid % 8 === 1, lit("ebook platform")).otherwise(lit("journal"))
        .as("type"),
      when(sid % 8 === 1,
        when(sid === 105, lit("Coll Pub!")).when(sid === 113, lit("CollPub"))
          .otherwise(concat(lit("Pub-"), sid.cast("string")))).as("publisher"))
    val e2s = c.filter(ck < 40).select(
        concat(lit("ep"), ck.cast("string")).as("endpoint_id"),
        ((ck * 3) % 300 + 100).cast("long").as("source_id"))
      .unionByName(c.filter(ck < 40 && ck % 5 === 0).select(
        concat(lit("ep"), ck.cast("string")).as("endpoint_id"),
        ((ck * 3 + 7) % 300 + 100).cast("long").as("source_id")))

    val k = col("o_orderkey"); val ks = k.cast("string")
    val m6 = pmod(k, lit(6)); val m5 = pmod(k, lit(5))
    def idRow(id: org.apache.spark.sql.Column, ns: String,
        rel: org.apache.spark.sql.Column) =
      struct(id.as("id"), lit(ns).as("namespace"), rel.as("relationship"))
    val idsCol = when(m6 === 0, array(
        idRow(concat(lit("is-"), pmod(k, lit(150)).cast("string")), "pissn",
          lit("self")),
        idRow(concat(lit("is-"), pmod(k + 3, lit(150)).cast("string")), "eissn",
          lit(null).cast("string"))))
      .when(m6 === 1, array(
        idRow(concat(lit("is-"), pmod(k, lit(150)).cast("string")), "pissn",
          lit("References"))))
      .when(m6 === 3 && pmod(k, lit(12)) =!= 3, array(
        idRow(concat(lit("dc-"), pmod(k, lit(80)).cast("string")),
          "datacite_client", lit("self"))))
    val locations = o.select(
      when(m6 === 2, "repo").when(m6 === 3, "datacite")
        .when(m6 === 4, "pubmed").when(m6 === 5, "landing_page")
        .otherwise("crossref").as("provenance"),
      concat(lit("L"), ks).as("native_id"),
      idsCol.as("ids"),
      when(m6 === 2, concat(lit("ep"), pmod(k, lit(50)).cast("string")))
        .as("endpoint_id"),
      when(m6 === 1, concat(lit("Journal "),
          (pmod(k, lit(100)) + 100).cast("string")))
        .when(m6 === 5 && m5 === 3, lit("bioRxiv")).as("source_name"),
      when(m6 === 5 && m5 === 4, lit("The Research Square Platform LLC"))
        .as("publisher"),
      lit(null).cast("string").as("raw_type"),
      when(m6 === 5 && m5 === 2, concat(lit("10.2139/ssrn."), ks)).as("best_doi"),
      when(m6 === 5 && m5 === 0,
        concat(lit("https://www.europepmc.org/article/"), ks))
        .as("landing_page_url"),
      when(m6 === 5 && m5 === 1, concat(lit("https://osti.gov/"), ks, lit(".pdf")))
        .as("pdf_url"))
    // "X" rows for the post-CTAS passes: no ids/endpoint/urls, so every
    // CTAS tier and the manual cascade miss; k%12==1 punctuated source
    // names (raw display-name match fails, normalized succeeds unless
    // the target carries the duplicate name or was merged), k%12==5
    // book-typed publisher matches against the ebook index (target 105
    // exercises the normalized-publisher collision drop), k%12==9 split
    // by k%24: eu-repo book URI raw_type (fills) vs journal-article
    // (normalized_book_publisher stays null — negative case).
    val m12 = pmod(k, lit(12)); val m24 = pmod(k, lit(24))
    val ebookSid  = (pmod(k, lit(37)) * 8 + 105).cast("long")
    val ebookSid2 = (pmod(k, lit(31)) * 8 + 105).cast("long")
    val extra = o.filter(pmod(k, lit(4)) === 1).select(
      lit("landing_page").as("provenance"),
      concat(lit("X"), ks).as("native_id"),
      lit(null).cast("array<struct<id:string,namespace:string,relationship:string>>")
        .as("ids"),
      lit(null).cast("string").as("endpoint_id"),
      when(m12 === 1, concat(lit("Journal #"),
        (pmod(k, lit(100)) + 100).cast("string"))).as("source_name"),
      when(m12 === 5,
          when(ebookSid === 105, lit("Coll Pub"))
            .otherwise(concat(lit("Pub-"), ebookSid.cast("string"))))
        .when(m12 === 9, concat(lit("Pub-"), ebookSid2.cast("string")))
        .as("publisher"),
      when(m12 === 5, lit("Book"))
        .when(m24 === 9, lit("info:eu-repo/semantics/bookpart"))
        .when(m24 === 21, lit("journal-article")).as("raw_type"),
      lit(null).cast("string").as("best_doi"),
      lit(null).cast("string").as("landing_page_url"),
      lit(null).cast("string").as("pdf_url"))
    SourceMatcher.attachSourcesFull(locations.unionByName(extra), sources, e2s,
        excluded = Seq(140L, 280L))
      .select(col("native_id"), col("provenance"), col("source_id"),
        // int, not boolean: the driver comparator reprs a NULL BOOLEAN
        // as nan (DuckDB) vs None (parquet) and hash-mismatches
        col("is_oa_source").cast("int").as("oa_source"))
  }

  /** §2.9 SdgPipeline (sdg_create_frontfill_input.ipynb +
    * CreateWorksEnriched SDG merge): input gates (anti-join vs
    * classified, type list, id floor, the no-coalesce title-length
    * predicate, word count), stub classifier scores shaped against the
    * 17-goal dim (threshold 0.4, score-desc sort, top-3 slice —
    * ModelCache.predict_batch), two-version
    * frontfill with the size(sdg)>0 gate applied before the
    * latest-by-timestamp dedup (an empty newer prediction lets an older
    * non-empty one win — k%3=0 rows carry both versions), and the
    * backfill+frontfill merge source. */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.SdgPipeline
    val o = t(s, dir, "orders")
    val k = col("o_orderkey")
    val wid = when(pmod(k, lit(7)) === 0, lit(6590000000L) + k)
      .otherwise(lit(6600000000L) + k)
    val works = o.select(wid.as("work_id"),
      when(pmod(k, lit(3)) === 0,
          lit("Deep learning for clean water and sanitation systems"))
        .when(pmod(k, lit(3)) === 1, lit("Short note")).as("title"),
      when(pmod(k, lit(4)) === 0,
        lit("Extensive study of goals one through seventeen with methods"))
        .as("abstract"),
      elt((pmod(k, lit(8)) + 1).cast("int"), lit("article"), lit("book"),
        lit("review"), lit("book-chapter"), lit("preprint"),
        lit("dissertation"), lit("component"), lit("dataset")).as("work_type"))
    val existing = o.filter(pmod(k, lit(5)) === 0).select(wid.as("work_id"))
    val input = SdgPipeline.createFrontfillInput(works, existing)

    val kk = col("work_id") - lit(6600000000L)
    def score(g: org.apache.spark.sql.Column) =
      pmod(kk * 7 + g * 13, lit(100)).cast("double") / lit(100.0)
    val g1 = (pmod(kk, lit(17)) + 1).cast("int")
    val g2 = (pmod(kk * 5, lit(17)) + 1).cast("int")
    val g3 = (pmod(kk * 11, lit(17)) + 1).cast("int")
    val raw2 = input.select(col("work_id"), g1.as("goal"))
      .unionByName(input.filter(g2 =!= g1).select(col("work_id"), g2.as("goal")))
      .withColumn("score", score(col("goal")))
    val raw1 = input.filter(pmod(kk, lit(3)) === 0)
      .select(col("work_id"), g3.as("goal"))
      .withColumn("score", score(col("goal")))
    val emptySdg = array()
      .cast("array<struct<id:string,display_name:string,score:double>>")
    val ffv2 = input.select(col("work_id"))
      .join(SdgPipeline.shapeOutput(raw2), Seq("work_id"), "left")
      .select(col("work_id"), coalesce(col("sdg"), emptySdg).as("sdg"),
        lit("2024-02-01").cast("timestamp").as("created_timestamp"))
    val ffv1 = input.filter(pmod(kk, lit(3)) === 0).select(col("work_id"))
      .join(SdgPipeline.shapeOutput(raw1), Seq("work_id"), "left")
      .select(col("work_id"), coalesce(col("sdg"), emptySdg).as("sdg"),
        lit("2024-01-01").cast("timestamp").as("created_timestamp"))
    val backfill = o.filter(pmod(k, lit(7)) === 0 && pmod(k, lit(11)) < 5)
      .select((lit(6590000000L) + k).as("work_id"),
        array(struct(
          concat(lit("https://metadata.un.org/sdg/"),
            (pmod(k, lit(17)) + 1).cast("string")).as("id"),
          elt(((pmod(k, lit(17)) + 1).cast("int") +:
            SdgPipeline.goalNames.map(n => lit(n._2))): _*).as("display_name"),
          lit(0.9).as("score"))).as("sdg"))
    SdgPipeline.mergeSource(backfill, ffv2.unionByName(ffv1))
      .select(col("work_id"), size(col("sdg")).as("n_sdg"),
        to_json(col("sdg")).as("sdg_json"))
  }

  private val q72Oracle: String = {
    val goalRows = graft.llm.SdgPipeline.goalNames
      .map { case (g, n) => s"($g, '${n.replace("'", "''")}')" }.mkString(", ")
    s"""WITH o AS (SELECT o_orderkey AS k FROM orders),
       |w AS (SELECT k,
       |  CASE WHEN k % 7 = 0 THEN 6590000000 + k ELSE 6600000000 + k END AS work_id,
       |  CASE WHEN k % 3 = 0 THEN 'Deep learning for clean water and sanitation systems'
       |       WHEN k % 3 = 1 THEN 'Short note' END AS title,
       |  CASE WHEN k % 4 = 0 THEN 'Extensive study of goals one through seventeen with methods'
       |       END AS abstract,
       |  ['article','book','review','book-chapter','preprint','dissertation',
       |   'component','dataset'][CAST(k % 8 AS INTEGER) + 1] AS wt
       |  FROM o),
       |sel AS (SELECT k, work_id FROM w
       |  WHERE k % 5 <> 0
       |    AND wt IN ('article','book','review','book-chapter','preprint','dissertation')
       |    AND work_id > 6600000000
       |    AND (length(title) + coalesce(length(abstract), 0)) >= 25
       |    AND len(string_split(coalesce(title,'') || ' ' || coalesce(abstract,''), ' ')) >= 5),
       |goals(g, nm) AS (VALUES $goalRows),
       |r2 AS (SELECT k, work_id, CAST(k % 17 + 1 AS INTEGER) AS g FROM sel
       |  UNION SELECT k, work_id, CAST((k * 5) % 17 + 1 AS INTEGER) FROM sel),
       |s2 AS (SELECT k, work_id, g,
       |    CAST((k * 7 + g * 13) % 100 AS DOUBLE) / 100.0 AS score FROM r2),
       |v2 AS (SELECT work_id, list_slice(list(struct_pack(
       |    id := 'https://metadata.un.org/sdg/' || CAST(g AS VARCHAR),
       |    display_name := nm, score := score) ORDER BY score DESC, g ASC), 1, 3) AS sdg
       |  FROM s2 JOIN goals USING (g) WHERE score > 0.4 GROUP BY work_id),
       |s1 AS (SELECT k, work_id, CAST((k * 11) % 17 + 1 AS INTEGER) AS g
       |  FROM sel WHERE k % 3 = 0),
       |s1s AS (SELECT k, work_id, g,
       |    CAST((k * 7 + g * 13) % 100 AS DOUBLE) / 100.0 AS score FROM s1),
       |v1 AS (SELECT work_id, list_slice(list(struct_pack(
       |    id := 'https://metadata.un.org/sdg/' || CAST(g AS VARCHAR),
       |    display_name := nm, score := score) ORDER BY score DESC, g ASC), 1, 3) AS sdg
       |  FROM s1s JOIN goals USING (g) WHERE score > 0.4 GROUP BY work_id),
       |ff AS (
       |  SELECT sel.work_id, coalesce(v2.sdg, []) AS sdg,
       |    TIMESTAMP '2024-02-01' AS ts FROM sel LEFT JOIN v2 USING (work_id)
       |  UNION ALL
       |  SELECT sel.work_id, coalesce(v1.sdg, []), TIMESTAMP '2024-01-01'
       |  FROM sel LEFT JOIN v1 USING (work_id) WHERE sel.k % 3 = 0),
       |ranked AS (SELECT work_id, sdg,
       |    row_number() OVER (PARTITION BY work_id ORDER BY ts DESC) AS rn
       |  FROM ff WHERE len(sdg) > 0),
       |bf AS (SELECT 6590000000 + k AS work_id,
       |  [struct_pack(id := 'https://metadata.un.org/sdg/' || CAST(k % 17 + 1 AS VARCHAR),
       |    display_name := nm, score := CAST(0.9 AS DOUBLE))] AS sdg
       |  FROM o JOIN goals ON g = CAST(k % 17 + 1 AS INTEGER)
       |  WHERE k % 7 = 0 AND k % 11 < 5)
       |SELECT work_id, CAST(len(sdg) AS INTEGER) AS n_sdg,
       |  CAST(to_json(sdg) AS VARCHAR) AS sdg_json
       |FROM (SELECT work_id, sdg FROM bf
       |      UNION ALL SELECT work_id, sdg FROM ranked WHERE rn = 1)""".stripMargin
  }

  private val q71Oracle: String =
    """WITH src AS (SELECT c_custkey + 100 AS sid FROM customer WHERE c_custkey < 300),
      |srcm AS (SELECT sid, (sid % 25 = 0) AS merged FROM src),
      |srcf AS (SELECT sid FROM srcm WHERE NOT merged AND sid NOT IN (140, 280)),
      |issn_idx AS (SELECT 'is-' || CAST(sid % 120 AS VARCHAR) AS issn,
      |  min(sid) AS sid FROM srcf GROUP BY 1),
      |dc_idx AS (SELECT 'dc-' || CAST(sid % 60 AS VARCHAR) AS dckey,
      |  min(sid) AS sid FROM srcf WHERE sid % 4 = 0 GROUP BY 1),
      |epcand AS (
      |  SELECT c_custkey AS e, (c_custkey * 3) % 300 + 100 AS sid
      |  FROM customer WHERE c_custkey < 40
      |  UNION ALL
      |  SELECT c_custkey, (c_custkey * 3 + 7) % 300 + 100
      |  FROM customer WHERE c_custkey < 40 AND c_custkey % 5 = 0),
      |ep_idx AS (SELECT e, min(c.sid) AS sid
      |  FROM epcand c JOIN srcf f ON c.sid = f.sid GROUP BY e),
      |uniq AS (SELECT nm, min(sid) AS sid FROM (
      |    SELECT CASE WHEN sid % 9 = 0 THEN 'Dup Journal'
      |      ELSE 'Journal ' || CAST(sid AS VARCHAR) END AS nm, sid
      |    FROM srcm WHERE NOT merged)
      |  GROUP BY nm HAVING count(*) = 1),
      |loc AS (SELECT o_orderkey AS k FROM orders),
      |cx0 AS (SELECT k,
      |    CASE WHEN ie.sid IS NOT NULL THEN ie.sid ELSE ip.sid END AS sid
      |  FROM loc l
      |  LEFT JOIN issn_idx ie ON ie.issn = 'is-' || CAST((l.k + 3) % 150 AS VARCHAR)
      |  LEFT JOIN issn_idx ip ON ip.issn = 'is-' || CAST(l.k % 150 AS VARCHAR)
      |  WHERE l.k % 6 = 0),
      |cx1 AS (SELECT k, u.sid FROM loc l LEFT JOIN uniq u
      |    ON u.nm = 'Journal ' || CAST(l.k % 100 + 100 AS VARCHAR)
      |  WHERE l.k % 6 = 1),
      |rp AS (SELECT k, e.sid FROM loc l LEFT JOIN ep_idx e ON e.e = l.k % 50
      |  WHERE l.k % 6 = 2),
      |dc AS (SELECT k, d.sid FROM loc l LEFT JOIN dc_idx d
      |    ON l.k % 12 <> 3 AND d.dckey = 'dc-' || CAST(l.k % 80 AS VARCHAR)
      |  WHERE l.k % 6 = 3),
      |nsrc AS (SELECT sid,
      |    CASE WHEN sid % 9 = 0 THEN 'Dup Journal'
      |      ELSE 'Journal ' || CAST(sid AS VARCHAR) END AS nm,
      |    CASE WHEN sid % 8 = 1 THEN
      |      CASE WHEN sid = 105 THEN 'Coll Pub!' WHEN sid = 113 THEN 'CollPub'
      |        ELSE 'Pub-' || CAST(sid AS VARCHAR) END END AS pub
      |  FROM srcm WHERE NOT merged),
      |nrm_idx AS (SELECT regexp_replace(lower(nm), '[^\p{L}\p{N}]', '', 'g') AS nrm,
      |    max(sid) AS sid FROM nsrc GROUP BY 1 HAVING count(*) = 1),
      |epub_idx AS (SELECT regexp_replace(lower(pub), '[^\p{L}\p{N}]', '', 'g') AS npub,
      |    max(sid) AS sid FROM nsrc WHERE pub IS NOT NULL
      |  GROUP BY 1 HAVING count(*) = 1),
      |x1 AS (SELECT k, i.sid FROM loc l LEFT JOIN nrm_idx i
      |    ON i.nrm = 'journal' || CAST(l.k % 100 + 100 AS VARCHAR)
      |  WHERE l.k % 4 = 1 AND l.k % 12 = 1),
      |x5 AS (SELECT k, i.sid FROM loc l LEFT JOIN epub_idx i
      |    ON i.npub = CASE WHEN (l.k % 37) * 8 + 105 = 105 THEN 'collpub'
      |      ELSE 'pub' || CAST((l.k % 37) * 8 + 105 AS VARCHAR) END
      |  WHERE l.k % 4 = 1 AND l.k % 12 = 5),
      |x9 AS (SELECT k, CASE WHEN l.k % 24 = 9 THEN i.sid END AS sid
      |  FROM loc l LEFT JOIN epub_idx i
      |    ON i.npub = 'pub' || CAST((l.k % 31) * 8 + 105 AS VARCHAR)
      |  WHERE l.k % 4 = 1 AND l.k % 12 = 9)
      |SELECT 'L' || CAST(k AS VARCHAR) AS native_id, 'crossref' AS provenance,
      |  CAST(sid AS BIGINT) AS source_id, CAST(sid % 2 = 0 AS INTEGER) AS oa_source FROM cx0
      |UNION ALL
      |SELECT 'L' || CAST(k AS VARCHAR), 'crossref', CAST(sid AS BIGINT),
      |  CAST(sid % 2 = 0 AS INTEGER) FROM cx1
      |UNION ALL
      |SELECT 'L' || CAST(k AS VARCHAR), 'repo', CAST(sid AS BIGINT),
      |  CAST(sid % 2 = 0 AS INTEGER) FROM rp
      |UNION ALL
      |SELECT 'L' || CAST(k AS VARCHAR), 'datacite', CAST(sid AS BIGINT),
      |  CAST(sid % 2 = 0 AS INTEGER) FROM dc
      |UNION ALL
      |SELECT 'L' || CAST(k AS VARCHAR), 'pubmed', CAST(4306525036 AS BIGINT),
      |  0 FROM loc WHERE k % 6 = 4
      |UNION ALL
      |SELECT 'L' || CAST(k AS VARCHAR), 'landing_page',
      |  CAST(CASE k % 5 WHEN 0 THEN 4306400806 WHEN 1 THEN 4306402487
      |    WHEN 2 THEN 4210172589 WHEN 3 THEN 4306402567
      |    ELSE 4306402450 END AS BIGINT),
      |  CAST(NULL AS INTEGER) FROM loc WHERE k % 6 = 5
      |UNION ALL
      |SELECT 'X' || CAST(k AS VARCHAR), 'landing_page', CAST(sid AS BIGINT),
      |  CAST(NULL AS INTEGER) FROM x1
      |UNION ALL
      |SELECT 'X' || CAST(k AS VARCHAR), 'landing_page', CAST(sid AS BIGINT),
      |  CAST(NULL AS INTEGER) FROM x5
      |UNION ALL
      |SELECT 'X' || CAST(k AS VARCHAR), 'landing_page', CAST(sid AS BIGINT),
      |  CAST(NULL AS INTEGER) FROM x9""".stripMargin

  /** §2.4/§2.9 Funders API entity build (CreateFundersAPI.ipynb): the
    * full assembly — exploded work→funder edges with the prefix filter
    * (a ror-id element, a null-id element, and a null array are all
    * routed to the drop paths), per-funder summary stats, unique award
    * counts (null funder ids gated), the roles union with an F↔F link
    * filtered out and a double-institution link exercising the
    * works_count-DESC row_number dedup, newest-first counts_by_year
    * (a null-year/null-date residue exercises the pub-year gate), and
    * the merged-registry-row filter. Nested arrays compare as
    * to_json; the no-recent-works → 0.0 citedness coalesce and the
    * uncoalesced h_index are mirrored exactly. */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    import graft.entities.Funders
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val ck = col("c_custkey")
    val funders = c.filter(ck < 200).select(
      ck.cast("long").as("funder_id"),
      concat(lit("Funder "), ck.cast("string")).as("display_name"),
      when(ck % 3 === 0, concat(lit("[\"Alt "), ck.cast("string"), lit("\"]")))
        .as("alternate_titles"),
      elt((ck % 5 + 1).cast("int"), lit("US"), lit("GB"), lit("DE"),
        lit("FR"), lit("JP")).as("country_code"),
      lit(null).cast("string").as("description"),
      when(ck % 4 === 1,
        concat(lit("https://funder"), ck.cast("string"), lit(".org")))
        .as("homepage_url"),
      lit(null).cast("string").as("image_url"),
      lit(null).cast("string").as("image_thumbnail_url"),
      when(ck % 2 === 0, concat(lit("https://ror.org/0"), ck.cast("string")))
        .as("ror_id"),
      when(ck % 7 === 0, concat(lit("Q"), ck.cast("string"))).as("wikidata_id"),
      (ck + 100000).cast("string").as("crossref_id"),
      when(ck % 6 === 2, concat(lit("10.13039/"), ck.cast("string"))).as("doi"),
      when(ck % 25 === 0, (ck + 1).cast("long")).as("merge_into_id"))

    val k = col("o_orderkey"); val m6 = pmod(k, lit(6))
    def fEl(id: Column) = struct(
      concat(lit("https://openalex.org/F"), id.cast("string")).as("id"))
    val fundersArr = when(m6 === 0, array(fEl(pmod(k, lit(200))),
        struct(lit("https://ror.org/02abc").as("id"))))
      .when(m6 === 1, array(fEl(pmod(k, lit(200))), fEl(pmod(k * 3, lit(200)))))
      .when(m6 === 2 || m6 === 3, array(fEl(pmod(k * 7, lit(200)))))
      .when(m6 === 4, array(struct(lit(null).cast("string").as("id"))))
    val works = o.select(k.cast("string").as("id"), fundersArr.as("funders"),
      when(pmod(k, lit(10)) =!= 0, (lit(1992) + pmod(k, lit(10))).cast("int"))
        .as("publication_year"),
      when(pmod(k, lit(20)) =!= 10, lit("1995-06-15").cast("date"))
        .as("publication_date"),
      pmod(k, lit(30)).as("cited_by_count"),
      struct((pmod(k, lit(3)) === 0).as("is_oa")).as("open_access"))
    val wfE = Funders.enrichWorkFunders(Funders.workFunders(works), works)

    val awards = o.filter(pmod(k, lit(4)) === 0).select(
      when(pmod(k, lit(16)) =!= 0, pmod(k, lit(250)).cast("long"))
        .as("funder_id"))
    val links = c.filter(ck < 150).select(
        when(ck % 3 === 0, concat(lit("F"), ck.cast("string")))
          .when(ck % 3 === 1, concat(lit("P"), (ck % 20).cast("string")))
          .otherwise(concat(lit("F"), ck.cast("string"))).as("id_1"),
        when(ck % 3 === 0, concat(lit("I"), (ck % 40).cast("string")))
          .when(ck % 3 === 1, concat(lit("F"), ck.cast("string")))
          .otherwise(concat(lit("F"), (ck + 1).cast("string"))).as("id_2"))
      .unionByName(c.filter(ck < 150 && ck % 6 === 0).select(
        concat(lit("F"), ck.cast("string")).as("id_1"),
        concat(lit("I"), ((ck + 5) % 40).cast("string")).as("id_2")))
    val instCounts = c.filter(ck < 40).select(
      concat(lit("I"), ck.cast("string")).as("entity_id"),
      ((ck * 11) % 97).cast("int").as("works_count"))
    val pubCounts = c.filter(ck < 20).select(
      concat(lit("P"), ck.cast("string")).as("entity_id"),
      ((ck * 13) % 89).cast("int").as("works_count"))

    Funders.assemble(funders, wfE, awards, links, instCounts, pubCounts,
        recentYearMin = 1998)
      .select(col("id"), col("display_name"), col("country_code"),
        when(col("alternate_titles").isNotNull, size(col("alternate_titles")))
          .as("n_alt"),
        col("ids").getField("ror").as("ror"),
        col("ids").getField("doi").as("doi"),
        col("works_count"), col("cited_by_count"), col("awards_count"),
        col("summary_stats").getField("h_index").as("h_index"),
        col("summary_stats").getField("i10_index").as("i10_index"),
        col("summary_stats").getField("2yr_mean_citedness").as("rmc"),
        to_json(col("roles")).as("roles_json"),
        to_json(col("counts_by_year")).as("cby_json"))
  }

  /** §2.4/§2.9 Sources API entity build (CreateSourcesApi.ipynb): the
    * full sources_api assembly — works_base source-id extraction from
    * the primary-location URL, the fused main aggregate (counts, i10,
    * h-index, e6-exact recent mean, second-truncated created date),
    * grouping-sets topics + topic_share with the top-25 slices, newest-
    * first counts_by_year, host-organization routing and lineage
    * (repository → I, metadata keeps the institution lineage, else
    * P + parent-publisher compact), the APC map→sorted-array, ids
    * struct, flag coalesces, oa_flip_year — and the cells-1/4
    * hash-gated updated_date across TWO generations of the works table
    * (gen1 drops k%997==5 works — 14 works spread over 14 sources, 13
    * visible after the merge filter; those sources' content changed so
    * they get the gen-2 date, the other ~227 keep gen-1's). The oracle
    * gates on works-set identity: a source's content tuple differs iff
    * it lost a work (works_count strictly decreases), and registry
    * fields are generation-constant, so "has a dropped work" ⟺ the
    * engine's full-string xxhash64 changed. topic_share is corpus-
    * dependent but excluded from the content key (as in the
    * reference), so cross-source total drift cannot flip a hash. */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    import graft.entities.SourcesApi
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val ck = col("c_custkey")
    val sid = (ck + 500).cast("long")
    val sources = c.filter(ck < 250).select(
      sid.as("id"),
      concat(lit("Source "), sid.cast("string")).as("display_name"),
      when(ck % 2 === 0, concat(lit("issnl-"), ck.cast("string"))).as("issn_l"),
      when(ck % 3 === 0, array(concat(lit("is-"), ck.cast("string")),
          concat(lit("is2-"), ck.cast("string"))))
        .when(ck % 3 === 1, array(concat(lit("is-"), ck.cast("string"))))
        .as("issns"),
      when(ck % 3 =!= 1, (ck % 30 + 5).cast("long")).as("publisher_id"),
      when((ck % 5 === 1 || ck % 5 === 2) && ck % 7 =!= 0,
        (ck % 40 + 10).cast("long")).as("institution_id"),
      elt((ck % 5 + 1).cast("int"), lit("journal"), lit("repository"),
        lit("metadata"), lit("conference"), lit("book series")).as("type"),
      when(ck % 7 === 0, concat(lit("Q"), ck.cast("string"))).as("wikidata_id"),
      (ck % 2 === 0).as("is_in_doaj"),
      when(ck % 4 === 0, (lit(2000) + ck % 20)).as("is_in_doaj_start_year"),
      (ck % 3 === 0).as("is_oa_high_oa_rate"),
      when(ck % 6 === 0, (lit(2005) + ck % 10)).as("high_oa_rate_start_year"),
      (ck % 11 === 0).as("is_in_scielo"),
      (ck % 5 === 0).as("is_ojs"),
      (ck % 13 === 0).as("is_core"),
      (ck % 5 === 1 && ck % 4 === 0).as("is_preprint_repository"),
      when(ck % 17 =!= 0, ck % 2 === 1).as("is_oa"),
      when(ck % 4 === 2, concat(lit("https://s"), ck.cast("string"),
        lit(".org"))).as("webpage"),
      when(ck % 6 === 2, array(struct((ck + 100).cast("int").as("price"),
        lit("USD").as("currency")))).as("apc_prices"),
      when(ck % 6 === 2, (ck * 10).cast("int")).as("apc_usd"),
      when(ck % 8 === 4, map_from_arrays(
          array(lit("2022"), lit("2023")),
          array(ck.cast("int"), (ck + 1).cast("int"))))
        .when(ck % 8 === 0, map_from_arrays(array(lit("2021")),
          array(ck.cast("int")))).as("apc_usd_by_year"),
      elt((ck % 4 + 1).cast("int"), lit("US"), lit("BR"), lit("DE"), lit("JP"))
        .as("country_code"),
      when(ck % 9 === 3, array(struct(
        concat(lit("https://soc"), ck.cast("string")).as("url"),
        concat(lit("Soc "), ck.cast("string")).as("organization"))))
        .as("societies"),
      when(ck % 6 === 1, array(concat(lit("Alt "), ck.cast("string"))))
        .as("alternate_titles"),
      when(ck % 25 === 0, sid + 1).as("merge_into_id"))
    val metricsPre = c.filter(ck < 200).select(sid.as("id"),
      (lit(1990) + ck % 20).as("first_publication_year"),
      (lit(2015) + ck % 8).as("last_publication_year"))
    val institutions = c.filter(ck < 40).select(
      (ck + 10).cast("long").as("id"),
      concat(lit("Inst "), (ck + 10).cast("string")).as("display_name"))
    val publishers = c.filter(ck < 30).select(
      (ck + 5).cast("long").as("id"),
      concat(lit("Publisher "), (ck + 5).cast("string")).as("display_name"),
      when((ck + 5) % 3 === 0, struct(
        concat(lit("https://openalex.org/P"), (ck + 105).cast("string"))
          .as("id"))).as("parent_publisher"))

    val k = col("o_orderkey")
    def topicEl(tid: Column, score: Column) = struct(
      concat(lit("T"), tid.cast("string")).as("id"),
      concat(lit("Topic "), tid.cast("string")).as("display_name"),
      concat(lit("SF"), (tid % 6).cast("string")).as("subfield"),
      concat(lit("F"), (tid % 4).cast("string")).as("field"),
      concat(lit("D"), (tid % 2).cast("string")).as("domain"),
      score.as("score"))
    val nullTopic = struct(lit(null).cast("string").as("id"),
      lit(null).cast("string").as("display_name"),
      lit(null).cast("string").as("subfield"),
      lit(null).cast("string").as("field"),
      lit(null).cast("string").as("domain"),
      lit(null).cast("double").as("score"))
    val t1 = topicEl(lit(10000) + pmod(k, lit(41)),
      pmod(k, lit(10)).cast("double") / 10.0)
    val t2 = topicEl(lit(10000) + pmod(k, lit(29)),
      pmod(k, lit(7)).cast("double") / 7.0)
    val works = o.select(
      k.as("id"),
      struct(struct(
        when(pmod(k, lit(10)) =!= 9, concat(lit("https://openalex.org/S"),
          (pmod(k, lit(250)) + 500).cast("string"))).as("id")).as("source"))
        .as("primary_location"),
      when(pmod(k, lit(13)) =!= 0, (lit(2015) + pmod(k, lit(10))).cast("int"))
        .as("publication_year"),
      when(pmod(k, lit(17)) =!= 0, lit("2018-03-05").cast("date"))
        .as("publication_date"),
      pmod(k, lit(40)).as("cited_by_count"),
      struct((pmod(k, lit(3)) === 0).as("is_oa")).as("open_access"),
      date_add(lit("2020-01-01").cast("date"), pmod(k, lit(300)).cast("int"))
        .as("created_date"),
      when(pmod(k, lit(4)) === 0, array(t1))
        .when(pmod(k, lit(4)) === 1, array(t1, t2, nullTopic))
        .when(pmod(k, lit(4)) === 2, array(t1, t1)).as("topics"))

    val wb2 = SourcesApi.worksBase(works)
    val wb1 = SourcesApi.worksBase(works.filter(pmod(col("id"), lit(997)) =!= 5))
    def api(wb: DataFrame) = SourcesApi.assemble(sources, metricsPre,
      institutions, publishers, wb, recentYearMin = 2023)
    val snap1 = Incremental.hashSnapshot(api(wb1)
      .withColumn("updated_date", lit("2024-01-01").cast("timestamp")),
      SourcesApi.contentKey)
    val stamped = Incremental.stampUpdatedDate(api(wb2), snap1,
      SourcesApi.contentKey, lit("2024-02-02").cast("timestamp"))
    stamped.select(
      col("id"), col("display_name"), col("issn_l"),
      to_json(col("issn")).as("issn_json"),
      col("host_organization"), col("host_organization_name"),
      to_json(col("host_organization_lineage")).as("lineage_json"),
      col("works_count"), col("oa_works_count"), col("cited_by_count"),
      col("summary_stats").getField("2yr_mean_citedness").as("rmc"),
      col("summary_stats").getField("h_index").as("h_index"),
      col("summary_stats").getField("i10_index").as("i10_index"),
      col("is_oa").cast("int").as("oa"),
      col("is_in_doaj").cast("int").as("doaj"),
      col("is_in_doaj_since_year").as("doaj_since"),
      col("is_high_oa_rate").cast("int").as("high_oa"),
      col("is_high_oa_rate_since_year").as("high_since"),
      col("is_in_scielo").cast("int").as("scielo"),
      col("is_ojs").cast("int").as("ojs"),
      col("is_core").cast("int").as("core"),
      col("is_preprint_repository").cast("int").as("preprint"),
      col("oa_flip_year"), col("first_publication_year"),
      col("last_publication_year"),
      col("ids").getField("mag").as("mag"),
      col("ids").getField("wikidata").as("wikidata"),
      col("homepage_url"),
      to_json(col("apc_prices")).as("apc_prices_json"),
      col("apc_usd"),
      to_json(col("apc_usd_by_year")).as("apc_json"),
      col("country_code"),
      to_json(col("societies")).as("societies_json"),
      to_json(col("alternate_titles")).as("alt_json"),
      col("type"),
      to_json(col("topics")).as("topics_json"),
      to_json(transform(col("topic_share"), x => struct(
        x.getField("id").as("id"), x.getField("display_name").as("display_name"),
        floor(x.getField("value") * 10000000L + 0.5).cast("long").as("value_e7"),
        x.getField("subfield").as("subfield"), x.getField("field").as("field"),
        x.getField("domain").as("domain")))).as("share_json"),
      to_json(col("counts_by_year")).as("cby_json"),
      col("works_api_url"),
      date_format(col("updated_date"), "yyyy-MM-dd").as("updated_d"),
      date_format(col("created_date"), "yyyy-MM-dd").as("created_d"))
  }

  private val q73Oracle: String =
    """WITH f AS (SELECT c_custkey AS fid FROM customer WHERE c_custkey < 200),
      |wf0 AS (
      |  SELECT o_orderkey AS k, CAST(o_orderkey % 200 AS BIGINT) AS fid
      |  FROM orders WHERE o_orderkey % 6 IN (0, 1)
      |  UNION ALL
      |  SELECT o_orderkey, CAST((o_orderkey * 3) % 200 AS BIGINT)
      |  FROM orders WHERE o_orderkey % 6 = 1
      |  UNION ALL
      |  SELECT o_orderkey, CAST((o_orderkey * 7) % 200 AS BIGINT)
      |  FROM orders WHERE o_orderkey % 6 IN (2, 3)),
      |wfe AS (SELECT k, fid,
      |  CASE WHEN k % 10 <> 0 THEN 1992 + k % 10
      |       WHEN k % 20 <> 10 THEN 1995 END AS pub_year,
      |  k % 30 AS cited, (k % 3 = 0) AS is_oa FROM wf0),
      |met0 AS (SELECT fid,
      |  CAST(count(DISTINCT k) AS INTEGER) AS works_count,
      |  CAST(sum(cited) AS INTEGER) AS cited_by_count,
      |  CAST(count(CASE WHEN cited >= 10 THEN 1 END) AS INTEGER) AS i10_index,
      |  floor(CAST(sum(CASE WHEN pub_year >= 1998 THEN cited END) AS DOUBLE)
      |    / nullif(CAST(count(CASE WHEN pub_year >= 1998 THEN cited END) AS DOUBLE), 0)
      |    * 1000000 + 0.5) / 1000000.0 AS rmc,
      |  list_sort(list(cited), 'DESC') AS s
      |  FROM wfe GROUP BY fid),
      |met AS (SELECT fid, works_count, cited_by_count, i10_index, rmc,
      |  CAST(len(list_filter(range(1, len(s)+1), i -> s[i] >= i)) AS INTEGER)
      |    AS h_index FROM met0),
      |cbyr AS (SELECT fid, CAST(pub_year AS INTEGER) AS year,
      |  CAST(count(DISTINCT k) AS INTEGER) AS works_count,
      |  CAST(sum(CASE WHEN is_oa THEN 1 ELSE 0 END) AS INTEGER) AS oa_works_count,
      |  CAST(sum(cited) AS INTEGER) AS cited_by_count
      |  FROM wfe WHERE pub_year IS NOT NULL GROUP BY fid, pub_year),
      |cby AS (SELECT fid, list(struct_pack(year := year,
      |    works_count := works_count, oa_works_count := oa_works_count,
      |    cited_by_count := cited_by_count) ORDER BY year DESC) AS cby
      |  FROM cbyr GROUP BY fid),
      |aw AS (SELECT CAST(o_orderkey % 250 AS BIGINT) AS fid,
      |    CAST(count(*) AS INTEGER) AS c
      |  FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 16 <> 0
      |  GROUP BY 1),
      |lnk AS (
      |  SELECT 'F' || CAST(c_custkey AS VARCHAR) AS id_1,
      |    'I' || CAST(c_custkey % 40 AS VARCHAR) AS id_2
      |  FROM customer WHERE c_custkey < 150 AND c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT 'P' || CAST(c_custkey % 20 AS VARCHAR),
      |    'F' || CAST(c_custkey AS VARCHAR)
      |  FROM customer WHERE c_custkey < 150 AND c_custkey % 3 = 1
      |  UNION ALL
      |  SELECT 'F' || CAST(c_custkey AS VARCHAR),
      |    'F' || CAST(c_custkey + 1 AS VARCHAR)
      |  FROM customer WHERE c_custkey < 150 AND c_custkey % 3 = 2
      |  UNION ALL
      |  SELECT 'F' || CAST(c_custkey AS VARCHAR),
      |    'I' || CAST((c_custkey + 5) % 40 AS VARCHAR)
      |  FROM customer WHERE c_custkey < 150 AND c_custkey % 6 = 0),
      |sides AS (
      |  SELECT id_1 AS fk, id_2 AS ent FROM lnk WHERE id_1 LIKE 'F%'
      |  UNION ALL
      |  SELECT id_2, id_1 FROM lnk WHERE id_2 LIKE 'F%'),
      |ic AS (SELECT 'I' || CAST(c_custkey AS VARCHAR) AS ent,
      |  CAST((c_custkey * 11) % 97 AS INTEGER) AS wc
      |  FROM customer WHERE c_custkey < 40),
      |pc AS (SELECT 'P' || CAST(c_custkey AS VARCHAR) AS ent,
      |  CAST((c_custkey * 13) % 89 AS INTEGER) AS wc
      |  FROM customer WHERE c_custkey < 20),
      |rall AS (
      |  SELECT f.fid, 'funder' AS role,
      |    'https://openalex.org/F' || CAST(f.fid AS VARCHAR) AS id,
      |    coalesce(m.works_count, 0) AS wc
      |  FROM f LEFT JOIN met m ON f.fid = m.fid
      |  UNION ALL
      |  SELECT f.fid,
      |    CASE WHEN sides.ent LIKE 'I%' THEN 'institution' ELSE 'publisher' END,
      |    'https://openalex.org/' || sides.ent,
      |    coalesce(CASE WHEN sides.ent LIKE 'I%' THEN ic.wc ELSE pc.wc END, 0)
      |  FROM f JOIN sides ON sides.fk = 'F' || CAST(f.fid AS VARCHAR)
      |  LEFT JOIN ic ON sides.ent = ic.ent
      |  LEFT JOIN pc ON sides.ent = pc.ent
      |  WHERE sides.ent LIKE 'I%' OR sides.ent LIKE 'P%'),
      |rdedup AS (SELECT fid, role, id, wc, row_number() OVER (
      |    PARTITION BY fid, role ORDER BY wc DESC, id ASC) AS rn FROM rall),
      |rolesj AS (SELECT fid, list(struct_pack(role := role, id := id,
      |    works_count := wc) ORDER BY role ASC, id ASC) AS roles
      |  FROM rdedup WHERE rn = 1 GROUP BY fid)
      |SELECT CAST(f.fid AS BIGINT) AS id,
      |  'Funder ' || CAST(f.fid AS VARCHAR) AS display_name,
      |  ['US','GB','DE','FR','JP'][CAST(f.fid % 5 AS INTEGER) + 1] AS country_code,
      |  CASE WHEN f.fid % 3 = 0 THEN 1 END AS n_alt,
      |  CASE WHEN f.fid % 2 = 0 THEN 'https://ror.org/0' || CAST(f.fid AS VARCHAR)
      |    END AS ror,
      |  CASE WHEN f.fid % 6 = 2 THEN '10.13039/' || CAST(f.fid AS VARCHAR)
      |    END AS doi,
      |  coalesce(m.works_count, 0) AS works_count,
      |  coalesce(m.cited_by_count, 0) AS cited_by_count,
      |  coalesce(a.c, 0) AS awards_count,
      |  m.h_index AS h_index,
      |  coalesce(m.i10_index, 0) AS i10_index,
      |  coalesce(m.rmc, 0.0) AS rmc,
      |  CAST(to_json(rl.roles) AS VARCHAR) AS roles_json,
      |  CAST(to_json(c.cby) AS VARCHAR) AS cby_json
      |FROM f
      |LEFT JOIN met m ON f.fid = m.fid
      |LEFT JOIN aw a ON f.fid = a.fid
      |LEFT JOIN rolesj rl ON f.fid = rl.fid
      |LEFT JOIN cby c ON f.fid = c.fid
      |WHERE f.fid % 25 <> 0""".stripMargin

  /** §2.1/§2.3/§2.5 paywall-signals queue builders (rebuild_cohort.sql
    * + classify_candidate_html.sql + the three queue SQLs): landing
    * rows with HOF-extractable id/url arrays (pmh / two doi prefix
    * forms / html.gz / docs.html; a no-pdf and a no-file-key residue
    * both dropped), ingested-at rn dedup (k%7 rows carry a later #v2
    * snapshot), created-date gate, the three anti-joins (harvested
    * taxicab PDFs, held works via locations_mapped, attempted urls),
    * then a 12-host HTML rotation through the v3 classifier (every
    * rule fires on at least one residue; the oracle re-evaluates the
    * SAME regexes in DuckDB), the likely-free drain queue with the
    * linkinghub PII rewrite, the verdict-driven OA-host queue, and the
    * marker-validated drip pool with the Hindawi-on-Wiley rewrite.
    * Rank tiebreaks pinned to work_key (xxhash64 isn't computable in
    * DuckDB; semantics unchanged — see PaywallSignals scaladoc). */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    import graft.paywall.PaywallSignals
    import s.implicits._
    val o = t(s, dir, "orders")
    val k = col("o_orderkey"); val ks = k.cast("string")
    val m24 = pmod(k, lit(24)); val m12 = pmod(k, lit(12))
    // ids-shape residue on k div 24 so it is independent of the host
    // rotation (k%3 would alias m24%3 and starve 8 of the 24 residues)
    val m3 = pmod(expr("o_orderkey div 24"), lit(3)); val m5 = pmod(k, lit(5))
    val host = elt((m12 + 1).cast("int"), lit("www.sciencedirect.com"),
      lit("link.springer.com"), lit("www.nature.com"), lit("academic.oup.com"),
      lit("www.tandfonline.com"), lit("linkinghub.elsevier.com"),
      lit("www.cambridge.org"), lit("www.researchsquare.com"),
      lit("journals.lww.com"), lit("onlinelibrary.wiley.com"),
      lit("downloads.hindawi.com"), lit("img-host.example"))
    val pdfBase = when(m12 === 5, when(m24 === 5,
        concat(lit("https://linkinghub.elsevier.com/retrieve/pii/S"), ks))
        .otherwise(concat(lit("https://linkinghub.elsevier.com/retrieve/noid/"), ks)))
      .when(m12 === 11, when(m24 === 11,
        concat(lit("https://img-host.example/art/"), ks, lit(".png?dl=1")))
        .otherwise(concat(lit("https://img-host.example/art/"), ks, lit(".gif"))))
      .otherwise(concat(lit("https://"), host, lit("/pdf/"), ks))
    val nativeId = when(m12 === 10 && m24 === 10,
        concat(lit("https://doi.org/10.1155/"), ks))
      .otherwise(concat(lit("N"), ks))
    val nativeNs = when(m12 === 10 && m24 === 10, lit("doi")).otherwise(lit("nat"))
    val doiId = when(pmod(k, lit(2)) === 1, concat(lit("https://doi.org/10.1/"), ks))
      .otherwise(concat(lit("DOI:10.1/"), ks))
    def idS(ns: String, id: Column) =
      struct(lit(ns).as("namespace"), id.as("id"))
    def idsArr(sfx: String) = when(m3 === 0, array(
        idS("pmh", concat(lit("oai:rep:"), ks)),
        idS("html.gz", concat(lit("hk"), ks, lit(sfx)))))
      .when(m3 === 1, array(idS("doi", doiId),
        idS("docs.html", concat(lit("hd"), ks, lit(sfx)))))
      .otherwise(array(idS("doi", concat(lit("https://doi.org/10.3/"), ks))))
    def uS(ct: String, u: Column) =
      struct(lit(ct).as("content_type"), u.as("url"))
    val pageUrl = concat(lit("https://"), host, lit("/page/"), ks)
    def urlsArr(pdf: Column) = when(m5 === 4, array(uS("html", pageUrl)))
      .when(m5 === 0, array(uS("html", pageUrl), uS("pdf", pdf)))
      .otherwise(array(uS("pdf", pdf)))
    val created = when(k % 9 === 5, lit("2026-07-20")).otherwise(lit("2026-07-28"))
    def lpRows(base: DataFrame, sfx: String, pdf: Column, ing: Int) =
      base.select(idsArr(sfx).as("ids"), urlsArr(pdf).as("urls"),
        nativeId.as("native_id"), nativeNs.as("native_id_namespace"),
        concat(lit("Pub "), pmod(k, lit(7)).cast("string")).as("publisher"),
        created.as("created_date"), lit(ing).as("ingested_at"))
    val landing = lpRows(o, "", pdfBase, 1)
      .unionByName(lpRows(o.filter(k % 7 === 0), "b",
        concat(pdfBase, lit("#v2")), 2))

    val taxicab = o.filter(k % 10 === 6).select(
        when(m3 === 0, concat(lit("oai:rep:"), ks))
          .otherwise(concat(lit("https://doi.org/10.1/"), ks)).as("native_id"),
        when(m3 === 0, lit("pmh")).otherwise(lit("doi")).as("native_id_namespace"),
        lit(200).as("status_code"), lit("application/pdf").as("content_type"),
        concat(lit("s3://t/"), ks).as("s3_path"),
        concat(lit("https://t.example/"), ks).as("url"))
      .unionByName(o.filter(k % 10 === 2).select(nativeId.as("native_id"),
        nativeNs.as("native_id_namespace"), lit(404).as("status_code"),
        lit("application/pdf").as("content_type"),
        concat(lit("s3://t/"), ks).as("s3_path"),
        concat(lit("https://t.example/x"), ks).as("url")))
      .unionByName(o.filter(k % 10 === 8).select(nativeId.as("native_id"),
        nativeNs.as("native_id_namespace"), lit(200).as("status_code"),
        lit("text/html").as("content_type"),
        lit(null).cast("string").as("s3_path"), pdfBase.as("url")))

    val lm = o.filter(k % 10 === 7 || k % 10 === 3).select(
        concat(lit("N"), ks).as("native_id"),
        lit("nat").as("native_id_namespace"),
        (k + 500000).as("work_id"),
        when(pmod(k, lit(20)) === 7, concat(lit("s3://p/"), ks)).as("pdf_s3_id"),
        when(pmod(k, lit(20)) === 17, concat(lit("s3://g/"), ks))
          .as("grobid_s3_id"))
      .unionByName(o.filter(k % 10 === 1).select(
        concat(lit("N"), ks).as("native_id"),
        lit("nat").as("native_id_namespace"),
        lit(null).cast("long").as("work_id"),
        lit(null).cast("string").as("pdf_s3_id"),
        lit(null).cast("string").as("grobid_s3_id")))

    // Same boundary for the cohort: consumed by candidate_html AND the
    // OA-host queue (production persists pdf_candidate_cohort as a table)
    val cohort = graft.core.Materialize.temp(
      PaywallSignals.buildCohort(landing, taxicab, lm, "2026-07-27",
        builtAt = lit(null).cast("timestamp")),
      "graft-q74-cohort")._1

    val kk = regexp_extract(col("file_key"), "\\d+", 0).cast("long")
    val h24 = pmod(kk, lit(24))
    val html = when(h24 === 0, "<span class=\"OpenAccessLabel\">OA</span>")
      .when(h24 === 12, "<a class=\"xPurchasePDF\">buy</a>")
      .when(h24 === 1, "<div data-test=\"open-access\"></div>")
      .when(h24 === 13, "<div class=\"c-article-buy-box\">")
      .when(h24 === 2, "<div data-test=\"open-access\">")
      .when(h24 === 14, "<div id=\"readcube-buybox\">")
      .when(h24 === 3, "<a class=\"get-access-jumplink\">")
      .when(h24 === 15,
        "<p>This is an Open Access article distributed under the terms of CC BY</p>")
      .when(h24 === 4, "<div class=\"accessDenialWidget\">")
      .when(h24 === 16, "<span> Free Access </span>")
      .when(h24 === 5, "<div class=\"OpenAccessLabel\">")
      .when(h24 === 17, "<div class=\"remoteAccessButton\">")
      .when(h24 === 6, "<button class=\"buttonGetAccess\">")
      .when(h24 === 18, "<div>plain article</div>")
      .when(h24 === 7 || h24 === 19, "<div>rs page</div>")
      .when(h24 === 8, "<li class=\"liPurchase\">")
      .when(h24 === 20,
        "<script src=\"https://jbs.elsevierhealth.com/a.js\"></script><div class=\"article-tools__purchase\">")
      .when(h24 === 9, "<span class=\"doi-access\">Open Access</span>")
      .when(h24 === 21, "<div>nothing</div>")
      .when(h24 === 10 || h24 === 22, "<div>hindawi page</div>")
      .otherwise("<div>img</div>")
    val chMain = cohort.withColumn("html", html)
      .withColumn("status", when(pmod(kk, lit(13)) === 0, "error").otherwise("ok"))
    // Stage boundary: three queue consumers read candidate_html below
    // (as production reads the pdf_candidate_html TABLE); without it
    // each queue recomputes the whole synthesis lineage and the fused
    // span tops the JVM 64KB method limit (codegen falls back to
    // interpreted for the entire fixture stage).
    val ch = graft.core.Materialize.temp(
      chMain.unionByName(chMain.filter(pmod(kk, lit(11)) === 0)
        .withColumn("file_key", concat(col("file_key"), lit("x2")))
        .withColumn("pdf_url", concat(col("pdf_url"), lit("#x2")))),
      "graft-q74-ch")._1

    val classification = PaywallSignals.classify(ch,
      classifiedAt = lit(null).cast("timestamp"))
    val verdicts = Seq(("www.researchsquare.com", "drain"),
      ("www.cambridge.org", "drain"), ("img-host.example", "hold"))
      .toDF("url_host", "verdict")
    val nullTs = lit(null).cast("timestamp")
    val drain = PaywallSignals.drainQueue(classification, nullTs,
      tieBreak = col("work_key"))
    val oa = PaywallSignals.oaHostQueue(cohort, verdicts, nullTs,
      rankBy = col("work_key"))
    val drip = PaywallSignals.dripPool(ch, classification, nullTs,
      randKey = lit(0L))

    drain.select(lit("drain").as("queue"), col("work_key"), col("work_key_ns"),
        col("pdf_url"), col("url_host"), col("classifier_rule").as("rule"),
        col("calibrated_pdf_yield").as("yld"), col("host_rank"))
      .unionByName(oa.select(lit("oa_host").as("queue"), col("work_key"),
        col("work_key_ns"), col("pdf_url"), col("url_host"),
        col("classifier_rule").as("rule"), lit(null).cast("double").as("yld"),
        col("host_rank")))
      .unionByName(drip.select(lit("drip").as("queue"),
        col("native_id").as("work_key"),
        col("native_id_namespace").as("work_key_ns"), col("pdf_url"),
        col("budget_host").as("url_host"), col("drip_rule").as("rule"),
        lit(null).cast("double").as("yld"),
        lit(null).cast("int").as("host_rank")))
  }

  /** §2.4/§2.9 Institutions API entity build (CreateInstitutionsApi
    * .ipynb): the full institutions_api assembly — authorship-
    * institution double-explode works_base preserving the reference's
    * NON-deduplicated aggregate grain (k%5==0 works carry the same
    * institution on two authorships → citations count twice while
    * works_count stays DISTINCT; the oracle replicates the asymmetry),
    * super-system-filtered lineage with string-sorted I-URLs (103 < 3
    * lexically — pinned), entity_link roles with the keep-all-but-top-
    * funder dedup and NULLS LAST works_count ranking (P0 and F(5k+2)
    * ids have no counts row), repository rollups (institution 6 gets
    * two), ROR-relationship associated institutions with the prefer-
    * non-funder type lookup (Education+Funder / Funder-only / no-row
    * arms), label∪alias alternative names deduped against the
    * registry's own alternatives (ck%12 plants the collision), top-25
    * topics/topic_share on the shared grouping-sets template, newest-
    * first counts_by_year with the ≥2010 floor, and the cells-2/5
    * hash-gated updated_date across two works generations (gen1 drops
    * k%997==5 works; content differs ⟺ an institution lost a distinct
    * work ⟺ works_count strictly decreased, so the oracle gates on
    * dropped-work membership). */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    import graft.entities.InstitutionsApi
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val ck = col("c_custkey")
    val OA = "https://openalex.org/"
    val cc = elt((ck % 4 + 1).cast("int"), lit("US"), lit("DE"), lit("BR"),
      lit("JP"))
    val institutions = c.filter(ck < 60).select(
      ck.cast("long").as("id"),
      when(ck % 7 =!= 3, concat(lit("https://ror.org/0r"), ck.cast("string")))
        .as("ror_id"),
      concat(lit("Inst "), ck.cast("string")).as("display_name"),
      cc.as("iso3166_code"),
      elt((ck % 3 + 1).cast("int"), lit("education"), lit("facility"),
        lit("government")).as("type"),
      when(ck % 5 =!= 2, concat(lit("https://i"), ck.cast("string"),
        lit(".edu"))).as("official_page"),
      when(ck % 6 === 0, concat(lit("https://img.example/"),
        ck.cast("string"))).as("image_url"),
      when(ck % 6 === 0, concat(lit("https://img.example/"), ck.cast("string"),
        lit("/thumb"))).as("image_thumbnail_url"),
      when(ck % 4 === 0, array(concat(lit("A"), ck.cast("string"))))
        .as("display_name_acronyms"),
      when(ck % 3 === 0, array(concat(lit("Alt "), ck.cast("string")),
        concat(lit("Zed "), ck.cast("string"))))
        .as("display_name_alternatives"),
      concat(lit("City "), (ck % 10).cast("string")).as("city"),
      when(ck % 9 =!= 2, (ck * 3).cast("long")).as("geonames_city_id"),
      when(ck % 8 =!= 1, concat(lit("Reg "), (ck % 5).cast("string")))
        .as("region"),
      concat(lit("Country "), (ck % 4).cast("string")).as("country"),
      when(ck % 11 =!= 4, ck.cast("double") / 2).as("latitude"),
      when(ck % 11 =!= 4, -ck.cast("double") * 1.5).as("longitude"),
      when(ck % 5 === 0, concat(lit("grid."), ck.cast("string"))).as("grid_id"),
      when(ck % 3 === 1, concat(lit("https://en.wikipedia.org/wiki/I"),
        ck.cast("string"))).as("wiki_page"),
      when(ck % 4 === 2, concat(lit("Q"), (ck * 7).cast("string")))
        .as("wikidata_id"),
      date_add(lit("2012-01-01").cast("date"), ck.cast("int"))
        .as("created_date"),
      when(ck % 23 === 0, ck + 1).as("merge_into_id"))
    val ror = c.filter(ck < 60 && ck % 2 === 0 && ck % 7 =!= 3).select(
      concat(lit("https://ror.org/0r"), ck.cast("string")).as("id"),
      elt((ck % 3 + 1).cast("int"), lit("active"), lit("inactive"),
        lit("withdrawn")).as("status"))
    val ancestors = c.filter(ck < 60 && ck % 3 =!= 2).select(
      ck.cast("long").as("institution_id"),
      when(ck % 3 === 0, array((ck + 100).cast("long"),
          (ck + 101).cast("long"), lit(777L)))
        .otherwise(array(lit(888L), lit(777L))).as("lineage_ids"))
    val links = c.filter(ck < 120 && ck % 4 =!= 3).select(
      when(ck % 4 === 1, concat(lit("F"), (ck % 50).cast("string")))
        .otherwise(concat(lit("I"), (ck % 60).cast("string"))).as("id_1"),
      when(ck % 4 === 0, concat(lit("P"), (ck % 20).cast("string")))
        .when(ck % 4 === 1, concat(lit("I"), (ck % 60).cast("string")))
        .otherwise(concat(lit("F"), (ck % 50 + 50).cast("string"))).as("id_2"))
      .unionByName(c.filter(ck < 120 && ck % 4 === 3).select(
        concat(lit("I"), (ck % 60).cast("string")).as("id_1"),
        concat(lit("X"), ck.cast("string")).as("id_2")))
    val entityCounts = c.filter(ck < 20).select(
        concat(lit("P"), ck.cast("string")).as("entity_id"),
        ((ck * 13) % 89).cast("int").as("works_count"))
      .unionByName(c.filter(ck < 100 && ck % 5 =!= 2).select(
        concat(lit("F"), ck.cast("string")).as("entity_id"),
        ((ck * 11) % 97).cast("int").as("works_count")))
    val sources = c.filter(ck < 80).select(
      (ck + 900).cast("long").as("id"),
      concat(lit("Repo "), ck.cast("string")).as("display_name"),
      when(ck % 3 === 0, (ck % 60).cast("long")).as("institution_id"),
      when(ck % 2 === 0, lit("repository")).otherwise(lit("journal"))
        .as("type"),
      when(ck % 18 === 0, lit(901L)).as("merge_into_id"))
    val rorRel = c.filter(ck < 60 && ck % 5 === 0 && ck % 7 =!= 3).select(
        concat(lit("0r"), ck.cast("string")).as("ror_id"),
        concat(lit("0r"), ((ck + 7) % 60).cast("string")).as("related_ror_id"),
        elt((ck % 3 + 1).cast("int"), lit("Parent"), lit("Child"),
          lit("Related")).as("relationship_type"))
      .unionByName(c.filter(ck < 60 && ck % 10 === 0 && ck % 7 =!= 3).select(
        concat(lit("0r"), ck.cast("string")).as("ror_id"),
        concat(lit("0r"), ((ck + 14) % 60).cast("string"))
          .as("related_ror_id"),
        lit("Successor").as("relationship_type")))
    val rorTypes = c.filter(ck < 60 && ck % 2 === 0).select(
        concat(lit("0r"), ck.cast("string")).as("ror_id"),
        lit("Education").as("type"))
      .unionByName(c.filter(ck < 60 && ck % 3 === 0).select(
        concat(lit("0r"), ck.cast("string")).as("ror_id"),
        lit("Funder").as("type")))
    val rorLabels = c.filter(ck < 60 && ck % 2 === 0).select(
      concat(lit("0r"), ck.cast("string")).as("ror_id"),
      concat(lit("Label "), ck.cast("string")).as("label"))
    val rorAliases = c.filter(ck < 60 && ck % 4 === 0).select(
        concat(lit("0r"), ck.cast("string")).as("ror_id"),
        concat(lit("Alias "), ck.cast("string")).as("alias"))
      .unionByName(c.filter(ck < 60 && ck % 12 === 0).select(
        concat(lit("0r"), ck.cast("string")).as("ror_id"),
        concat(lit("Alt "), ck.cast("string")).as("alias")))

    val k = col("o_orderkey")
    def instS(id: Column) = struct(
      concat(lit(OA + "I"), id.cast("string")).as("id"))
    val nullInst = struct(lit(null).cast("string").as("id"))
    val i1 = instS(pmod(k, lit(60))); val i2 = instS(pmod(k * 3, lit(60)))
    def au(insts: Column) = struct(insts.as("institutions"))
    val m5 = pmod(k, lit(5))
    val emptyInsts = array().cast("array<struct<id:string>>")
    val authorships = when(m5 === 0, array(au(array(i1, i2)), au(array(i1))))
      .when(m5 === 1, array(au(array(i1))))
      .when(m5 === 2, array(au(emptyInsts)))
      .when(m5 === 3, array(au(array(i1, nullInst))))
    def topicEl(tid: Column, score: Column) = struct(
      concat(lit("T"), tid.cast("string")).as("id"),
      concat(lit("Topic "), tid.cast("string")).as("display_name"),
      concat(lit("SF"), (tid % 6).cast("string")).as("subfield"),
      concat(lit("F"), (tid % 4).cast("string")).as("field"),
      concat(lit("D"), (tid % 2).cast("string")).as("domain"),
      score.as("score"))
    val nullTopic = struct(lit(null).cast("string").as("id"),
      lit(null).cast("string").as("display_name"),
      lit(null).cast("string").as("subfield"),
      lit(null).cast("string").as("field"),
      lit(null).cast("string").as("domain"),
      lit(null).cast("double").as("score"))
    val t1 = topicEl(lit(10000) + pmod(k, lit(41)),
      pmod(k, lit(10)).cast("double") / 10.0)
    val t2 = topicEl(lit(10000) + pmod(k, lit(29)),
      pmod(k, lit(7)).cast("double") / 7.0)
    val works = o.select(
      k.as("id"),
      when(pmod(k, lit(10)) =!= 0, (lit(2008) + pmod(k, lit(12))).cast("int"))
        .as("publication_year"),
      when(pmod(k, lit(20)) =!= 10, lit("2013-06-15").cast("date"))
        .as("publication_date"),
      pmod(k, lit(25)).as("cited_by_count"),
      struct((pmod(k, lit(3)) === 0).as("is_oa")).as("open_access"),
      when(pmod(k, lit(4)) === 0, array(t1))
        .when(pmod(k, lit(4)) === 1, array(t1, t2, nullTopic))
        .when(pmod(k, lit(4)) === 2, array(t1, t1)).as("topics"),
      authorships.as("authorships"))

    val wb2 = InstitutionsApi.worksBase(works)
    val wb1 = InstitutionsApi.worksBase(
      works.filter(pmod(col("id"), lit(997)) =!= 5))
    val supers = Seq(777L, 888L, 30L)
    def api(wb: DataFrame) = InstitutionsApi.assemble(institutions, ror,
      ancestors, supers, wb, links, entityCounts, sources, rorRel, rorTypes,
      rorLabels, rorAliases, recentYearMin = 2018)
    val snap = Incremental.hashSnapshot(api(wb1)
      .withColumn("updated_date", lit("2024-01-01").cast("timestamp")),
      InstitutionsApi.contentKey)
    val stamped = Incremental.stampUpdatedDate(api(wb2), snap,
      InstitutionsApi.contentKey, lit("2024-02-02").cast("timestamp"))
    stamped.select(
      col("id"), col("display_name"), col("ror"), col("country_code"),
      col("type"), col("type_id"),
      to_json(col("lineage")).as("lineage_json"),
      col("is_super_system").cast("int").as("super"),
      col("homepage_url"), col("image_url"),
      col("image_thumbnail_url").as("thumb_url"),
      to_json(col("display_name_acronyms")).as("acronyms_json"),
      to_json(col("display_name_alternatives")).as("alt_json"),
      col("works_count"), col("cited_by_count"),
      col("ids").getField("openalex").as("openalex_id"),
      col("ids").getField("grid").as("grid"),
      col("ids").getField("wikipedia").as("wikipedia"),
      col("ids").getField("wikidata").as("wikidata"),
      to_json(col("roles")).as("roles_json"),
      to_json(col("repositories")).as("repos_json"),
      col("geo").getField("city").as("city"),
      col("geo").getField("geonames_city_id").as("geonames_city_id"),
      col("geo").getField("region").as("region"),
      col("geo").getField("country").as("country"),
      col("geo").getField("latitude").as("latitude"),
      col("geo").getField("longitude").as("longitude"),
      to_json(col("topics")).as("topics_json"),
      to_json(transform(col("topic_share"), x => struct(
        x.getField("id").as("id"),
        x.getField("display_name").as("display_name"),
        floor(x.getField("value") * 10000000L + 0.5).cast("long")
          .as("value_e7"),
        x.getField("subfield").as("subfield"), x.getField("field").as("field"),
        x.getField("domain").as("domain")))).as("share_json"),
      to_json(transform(col("associated_institutions"), x => struct(
        x.getField("id").as("id"), x.getField("ror").as("ror"),
        x.getField("display_name").as("display_name"),
        x.getField("country_code").as("country_code"),
        coalesce(x.getField("type"), lit("-")).as("type"),
        x.getField("relationship").as("relationship")))).as("assoc_json"),
      to_json(col("counts_by_year")).as("cby_json"),
      col("summary_stats").getField("2yr_mean_citedness").as("rmc"),
      col("summary_stats").getField("h_index").as("h_index"),
      col("summary_stats").getField("i10_index").as("i10_index"),
      col("status"), col("works_api_url"),
      date_format(col("updated_date"), "yyyy-MM-dd").as("updated_d"),
      date_format(col("created_date"), "yyyy-MM-dd").as("created_d"))
  }

  /** §2.4/§2.9 Publishers API entity build (CreatePublishersAPI.ipynb):
    * the full publishers_api assembly — locations-explode work pairs at
    * the DISTINCT grain (k%6==1 plants a duplicate host that must
    * dedup, k%6==0 a two-publisher work, k%6==3 an I-host that the
    * P-prefix filter drops), totals vs the 2014–2021-bounded
    * counts_by_year (years run 2010–2023 so both bounds cut), the
    * NULL-h-index-when-no-works asymmetry of the reference's
    * summary_stats struct, from_json registry parsing with a malformed-
    * JSON arm (ck%11==7 → NULL), entity-link roles with the top-funder
    * dedup, and the cells-0/2 hash-gated updated_date across two works
    * generations (gen1 drops k%991==3). */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    import graft.entities.PublishersApi
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val ck = col("c_custkey")
    val OA = "https://openalex.org/"
    val publishers = c.filter(ck < 50).select(
      ck.cast("long").as("id"),
      concat(lit("Pub "), ck.cast("string")).as("display_name"),
      when(ck % 3 === 0, concat(lit("[\"Apub "), ck.cast("string"),
          lit("\",\"Bpub "), ck.cast("string"), lit("\"]")))
        .when(ck % 11 === 7, lit("not json")).as("alternate_titles"),
      when(ck % 4 === 0, lit("[\"US\",\"DE\"]"))
        .when(ck % 4 === 1, lit("[\"BR\"]")).as("country_codes"),
      (ck % 3).cast("int").as("hierarchy_level"),
      when(ck % 5 === 0, struct(concat(lit(OA + "P"),
        (ck + 200).cast("string")).as("id"))).as("parent_publisher"),
      when(ck % 6 =!= 2, concat(lit("https://ror.org/0p"), ck.cast("string")))
        .as("ror_id"),
      when(ck % 7 === 0, concat(lit("https://img.example/p"),
        ck.cast("string"))).as("image_url"),
      when(ck % 7 === 0, concat(lit("https://img.example/p"),
        ck.cast("string"), lit("/t"))).as("image_thumbnail_url"),
      when(ck % 4 === 2, concat(lit("Q"), (ck * 3).cast("string")))
        .as("wikidata_id"),
      when(ck % 5 =!= 3, concat(lit("https://p"), ck.cast("string"),
        lit(".com"))).as("homepage_url"),
      date_add(lit("2013-01-01").cast("date"), ck.cast("int"))
        .as("created_date"),
      when(ck % 21 === 0, ck + 1).as("merge_into_id"))
    val links = c.filter(ck < 100 && ck % 4 =!= 3).select(
      when(ck % 4 === 1, concat(lit("F"), (ck % 40).cast("string")))
        .otherwise(concat(lit("P"), (ck % 50).cast("string"))).as("id_1"),
      when(ck % 4 === 0, concat(lit("I"), (ck % 30).cast("string")))
        .when(ck % 4 === 1, concat(lit("P"), (ck % 50).cast("string")))
        .otherwise(concat(lit("F"), (ck % 40 + 40).cast("string")))
        .as("id_2"))
      .unionByName(c.filter(ck < 100 && ck % 4 === 3).select(
        concat(lit("X"), ck.cast("string")).as("id_1"),
        concat(lit("P"), (ck % 50).cast("string")).as("id_2")))
    val entityCounts = c.filter(ck < 30 && ck % 4 =!= 1).select(
        concat(lit("I"), ck.cast("string")).as("entity_id"),
        ((ck * 17) % 83).cast("int").as("works_count"))
      .unionByName(c.filter(ck < 80 && ck % 6 =!= 2).select(
        concat(lit("F"), ck.cast("string")).as("entity_id"),
        ((ck * 7) % 71).cast("int").as("works_count")))

    val k = col("o_orderkey")
    def loc(host: Column) = struct(struct(host.as("host_organization"))
      .as("source"))
    val p1 = loc(concat(lit(OA + "P"), pmod(k, lit(50)).cast("string")))
    val p2 = loc(concat(lit(OA + "P"), pmod(k * 7, lit(50)).cast("string")))
    val iHost = loc(concat(lit(OA + "I"), pmod(k, lit(40)).cast("string")))
    val nullHost = loc(lit(null).cast("string"))
    val m6 = pmod(k, lit(6))
    val works = o.select(
      k.as("id"),
      when(pmod(k, lit(12)) =!= 0, (lit(2010) + pmod(k, lit(14))).cast("int"))
        .as("publication_year"),
      pmod(k, lit(30)).as("cited_by_count"),
      when(m6 === 0, array(p1, p2)).when(m6 === 1, array(p1, p1))
        .when(m6 === 2, array(p1)).when(m6 === 3, array(iHost))
        .when(m6 === 4, array(nullHost)).as("locations"))
    val wp2 = PublishersApi.workPairs(works)
    val wp1 = PublishersApi.workPairs(
      works.filter(pmod(col("id"), lit(991)) =!= 3))
    def api(wp: DataFrame) = PublishersApi.assemble(publishers, wp, links,
      entityCounts, recentYearMin = 2022, yearMin = 2014, yearMax = 2021)
    val snap = Incremental.hashSnapshot(api(wp1)
      .withColumn("updated_date", lit("2024-03-01").cast("timestamp")),
      PublishersApi.contentKey)
    val stamped = Incremental.stampUpdatedDate(api(wp2), snap,
      PublishersApi.contentKey, lit("2024-04-04").cast("timestamp"))
    stamped.select(
      col("id"), col("display_name"),
      to_json(col("lineage")).as("lineage_json"),
      to_json(col("alternate_titles")).as("alt_json"),
      to_json(col("country_codes")).as("cc_json"),
      col("hierarchy_level"),
      col("parent_publisher").getField("id").as("parent_id"),
      col("ids").getField("openalex").as("openalex_id"),
      col("ids").getField("ror").as("ror"),
      col("ids").getField("wikidata").as("wikidata"),
      col("image_url"), col("image_thumbnail_url").as("thumb_url"),
      col("homepage_url"),
      col("works_count"), col("cited_by_count"),
      col("summary_stats").getField("2yr_mean_citedness").as("rmc"),
      col("summary_stats").getField("h_index").as("h_index"),
      col("summary_stats").getField("i10_index").as("i10_index"),
      to_json(col("roles")).as("roles_json"),
      to_json(col("counts_by_year")).as("cby_json"),
      col("sources_api_url"),
      date_format(col("created_date"), "yyyy-MM-dd").as("created_d"),
      date_format(col("updated_date"), "yyyy-MM-dd").as("updated_d"))
  }

  /** §2.1/§2.3 ROR registry sync (CreateRorDerivedTables.ipynb +
    * CreateUpdateInstitutionsFromRor.ipynb): the nested ROR dump
    * (names/types/links/external_ids/relationships/locations arrays)
    * drives the four derived explode tables (null-id relationship
    * elements dropped; label language carried) and the two registry
    * passes — INSERT of unseen non-withdrawn RORs with ids minted past
    * the current max in ROR-id string order, and the newer-record MERGE
    * update (withdrawn / merged-away / stale rows kept verbatim; a
    * registry row with a NULL ror_id never matches, so its ROR id is
    * re-inserted fresh while the old row is kept). Output: the full
    * post-sync registry tagged inserted/updated/kept, joined with the
    * per-ROR derived rollups. */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    import graft.entities.RorTables
    val c = t(s, dir, "customer")
    val ck = col("c_custkey"); val cks = ck.cast("string")
    val nullS = lit(null).cast("string")
    val nameT = "array<struct<value:string,lang:string,types:array<string>>>"
    val linkT = "array<struct<type:string,value:string>>"
    val extT = "array<struct<type:string,preferred:string>>"
    val relT = "array<struct<id:string,type:string>>"
    def nm(v: Column, lang: Column, ts: Seq[String]) =
      struct(v.as("value"), lang.as("lang"),
        array(ts.map(lit(_)): _*).as("types"))
    def opt(cond: Column, el: Column, tpe: String) =
      when(cond, array(el)).otherwise(array().cast(tpe))
    val names = concat(
      array(nm(concat(lit("Ror Inst "), cks), lit("en"),
        Seq("ror_display", "label"))),
      opt(ck % 3 === 0, nm(concat(lit("Alias "), cks), nullS, Seq("alias")),
        nameT),
      opt(ck % 4 === 0, nm(concat(lit("AC"), cks), nullS, Seq("acronym")),
        nameT),
      opt(ck % 5 === 0, nm(concat(lit("Etiqueta "), cks), lit("es"),
        Seq("label")), nameT),
      opt(ck % 6 === 0, nm(concat(lit("Alias2 "), cks), nullS, Seq("alias")),
        nameT))
    val links = concat(
      opt(ck % 2 === 0 || ck % 4 === 1, struct(lit("website").as("type"),
        concat(lit("https://w"), cks).as("value")), linkT),
      opt(ck % 4 === 1, struct(lit("wikipedia").as("type"),
        concat(lit("https://wiki/"), cks).as("value")), linkT))
    val extIds = concat(
      opt(ck % 5 === 0, struct(lit("grid").as("type"),
        concat(lit("grid."), cks).as("preferred")), extT),
      opt(ck % 5 === 0 || ck % 5 === 1, struct(lit("wikidata").as("type"),
        concat(lit("Q"), cks).as("preferred")), extT))
    val rels = concat(
      opt(ck % 4 === 0, struct(concat(lit("https://ror.org/0x"),
        (ck + 3).cast("string")).as("id"), lit("parent").as("type")), relT),
      opt(ck % 4 === 0, struct(nullS.as("id"), lit("child").as("type")),
        relT),
      opt(ck % 4 === 2, struct(concat(lit("https://ror.org/0x"),
        (ck + 1).cast("string")).as("id"), lit("child").as("type")), relT))
    val locT = "array<struct<geonames_id:bigint,geonames_details:struct<" +
      "country_code:string,lat:double,lng:double,name:string," +
      "country_subdivision_name:string,country_name:string>>>"
    val locs = opt(ck % 9 =!= 4, struct((ck * 7).cast("long")
        .as("geonames_id"),
      struct(concat(lit("CC"), (ck % 4).cast("string")).as("country_code"),
        (ck.cast("double") / 4).as("lat"), (ck.cast("double") * 2).as("lng"),
        concat(lit("City"), (ck % 10).cast("string")).as("name"),
        when(ck % 8 =!= 2, concat(lit("Sub"), (ck % 5).cast("string")))
          .as("country_subdivision_name"),
        concat(lit("Ctry"), (ck % 3).cast("string")).as("country_name"))
        .as("geonames_details")), locT)
    val ror = c.filter(ck < 200).select(
      concat(lit("https://ror.org/0x"), cks).as("id"),
      when(ck % 7 === 6, "withdrawn").otherwise("active").as("status"),
      date_add(lit("2024-01-01").cast("date"), (ck % 40).cast("int"))
        .cast("timestamp").as("updated_date"),
      names.as("names"),
      when(ck % 3 === 0, array(lit("education"), lit("Funder")))
        .when(ck % 3 === 1, array(lit("Funder")))
        .otherwise(array(lit("facility"))).as("types"),
      links.as("links"), extIds.as("external_ids"), rels.as("relationships"),
      locs.as("locations"))
    val inst = c.filter(ck < 150 && ck % 3 =!= 1).select(
      (ck + 1000).cast("long").as("id"),
      concat(lit("Inst "), cks).as("display_name"),
      nullS.as("official_page"), nullS.as("wiki_page"),
      lit("US").as("iso3166_code"),
      (ck.cast("double") / 10).as("latitude"),
      lit(null).cast("double").as("longitude"),
      nullS.as("grid_id"),
      when(ck % 50 =!= 49, concat(lit("https://ror.org/0x"), cks))
        .as("ror_id"),
      nullS.as("wikidata_id"),
      when(ck % 31 === 0, (ck + 999).cast("long")).as("merge_into_id"),
      lit("OldCity").as("city"), nullS.as("region"),
      lit("OldCountry").as("country"), ck.cast("long").as("geonames_city_id"),
      lit("2020-01-01").cast("timestamp").as("created_date"),
      lit("2024-01-15").cast("timestamp").as("updated_date"),
      lit("education").as("type"),
      lit(null).cast("array<string>").as("display_name_acronyms"),
      when(ck % 9 === 0, array(lit("OldAlt")))
        .as("display_name_alternatives"))
    val now = lit("2024-06-01").cast("timestamp")
    val kept = RorTables.updateFromRor(inst, ror, now)
      .withColumn("tag", when(col("updated_date") === now, "updated")
        .otherwise("kept"))
    val inserted = RorTables.insertNewFromRor(ror, inst, now)
      .drop("image_url", "image_thumbnail_url", "merge_into_date")
      .withColumn("tag", lit("inserted"))
    val full = kept.unionByName(inserted)
    val bareR = regexp_replace(col("ror_id"), "https://ror\\.org/", "")
    val nRel = RorTables.relationships(ror).groupBy(col("ror_id"))
      .agg(count(lit(1)).as("n_rel"))
    val lab = RorTables.labels(ror).groupBy(col("ror_id"))
      .agg(sort_array(collect_list(concat_ws(":",
        coalesce(col("iso639"), lit("-")), col("label")))).as("labels"))
    val ali = RorTables.aliases(ror).groupBy(col("ror_id"))
      .agg(sort_array(collect_list(col("alias"))).as("aliases"))
    val typ = RorTables.types(ror).groupBy(col("ror_id"))
      .agg(sort_array(collect_list(col("type"))).as("types"))
    full.withColumn("__bare", bareR)
      .join(nRel.withColumnRenamed("ror_id", "__r1"),
        col("__bare") === col("__r1"), "left").drop("__r1")
      .join(lab.withColumnRenamed("ror_id", "__r2"),
        col("__bare") === col("__r2"), "left").drop("__r2")
      .join(ali.withColumnRenamed("ror_id", "__r3"),
        col("__bare") === col("__r3"), "left").drop("__r3")
      .join(typ.withColumnRenamed("ror_id", "__r4"),
        col("__bare") === col("__r4"), "left").drop("__r4")
      .select(col("tag"), col("id"), col("ror_id").as("ror"),
        col("display_name"), col("official_page"), col("wiki_page"),
        col("iso3166_code").as("country_code"),
        col("latitude"), col("longitude"), col("grid_id"),
        col("wikidata_id"),
        col("merge_into_id").isNotNull.cast("int").as("merged"),
        col("city"), col("region"), col("country"),
        col("geonames_city_id"), col("type"),
        to_json(col("display_name_acronyms")).as("acr_json"),
        to_json(col("display_name_alternatives")).as("alt_json"),
        date_format(col("created_date"), "yyyy-MM-dd").as("created_d"),
        date_format(col("updated_date"), "yyyy-MM-dd").as("updated_d"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(to_json(col("labels")), lit("[]")).as("labels_json"),
        coalesce(to_json(col("aliases")), lit("[]")).as("aliases_json"),
        coalesce(to_json(col("types")), lit("[]")).as("types_json"))
  }

  /** §5 snapshot smoke checks (smoke_tests.ipynb, the relational
    * tests): ID-format validation (two malformed arms), duplicate-id
    * detection (planted k%997/ck%97 duplicates that also flow through
    * every other count), required/mostly-required null rates (type
    * fails the zero bar, title/publication_year pass the 10% ceiling),
    * authorship + affiliation coverage with the 2020+ split, keyword/
    * SDG population (both keyword floors fail at ~33%), and abstract
    * inverted-index validity via the map-shape from_json probe
    * (malformed-JSON and valid-but-wrong-shape arms both counted — the
    * documented stronger-than-reference check). */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    import graft.serve.SnapshotSmoke
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val ck = col("c_custkey"); val k = col("o_orderkey")
    val ks = k.cast("string")
    def instS = struct(concat(lit("https://openalex.org/I"), ks).as("id"))
    val emptyInsts = array().cast("array<struct<id:string>>")
    val worksBase = o.select(
      when(k % 97 === 0, concat(lit("https://openalex.org/X"), ks))
        .when(k % 89 === 0, concat(lit("W"), ks))
        .otherwise(concat(lit("https://openalex.org/W"), ks)).as("id"),
      when(k % 50 =!= 7, lit("article")).as("type"),
      (k % 2 === 0).as("is_paratext"),
      when(k % 15 =!= 0, concat(lit("T"), ks)).as("title"),
      when(k % 200 =!= 5, (lit(2000) + k % 25).cast("int"))
        .as("publication_year"),
      (k % 4 === 0).as("is_xpac"),
      when(k % 10 === 0, array().cast(
          "array<struct<institutions:array<struct<id:string>>>>"))
        .when(k % 10 === 1, array(struct(emptyInsts.as("institutions"))))
        .otherwise(array(struct(array(instS).as("institutions"))))
        .as("authorships"),
      when(k % 3 === 0, array(lit("kw"))).otherwise(
        array().cast("array<string>")).as("keywords"),
      when(k % 7 === 0, array(lit("sdg"))).otherwise(
        array().cast("array<string>"))
        .as("sustainable_development_goals"),
      when(k % 11 === 0, lit(null).cast("string"))
        .when(k % 13 === 0, lit("{bad"))
        .when(k % 17 === 0, lit("[1,2]"))
        .otherwise(lit("{\"a\":[1,2]}")).as("abstract_inverted_index"),
      k.as("__k"))
    val works = worksBase.unionByName(
      worksBase.filter(pmod(col("__k"), lit(997)) === 1)).drop("__k")
    val authors = c.filter(ck < 500).select(
        when(ck % 41 === 0, concat(lit("https://openalex.org/B"),
          ck.cast("string")))
        .otherwise(concat(lit("https://openalex.org/A"), ck.cast("string")))
        .as("id"))
      .unionByName(c.filter(ck < 500 && ck % 97 === 3).select(
        concat(lit("https://openalex.org/A"), ck.cast("string")).as("id")))
    val report = SnapshotSmoke.idFormatBad(works, "works", "W")
      .unionByName(SnapshotSmoke.idFormatBad(authors, "authors", "A"))
      .unionByName(SnapshotSmoke.duplicateIds(works, "works"))
      .unionByName(SnapshotSmoke.duplicateIds(authors, "authors"))
      .unionByName(SnapshotSmoke.nullCounts(works, "works",
        Seq("id", "type", "is_paratext", "title", "publication_year")))
      .unionByName(SnapshotSmoke.authorshipStats(works, 2020))
      .unionByName(SnapshotSmoke.populationRates(works))
      .unionByName(SnapshotSmoke.abstractValidity(works))
    SnapshotSmoke.withVerdicts(report,
      requiredNullFields = Seq("id", "type", "is_paratext"),
      mostlyNullFields = Seq("title", "publication_year"))
  }

  /** §2.1/§2.5 location curation apply (ApplyLocationCurations.sql,
    * oxjob #745): latest-per-field moderation dedup (the m=0 arm's
    * earlier bad edit loses), the value+apply-flag pivot
    * distinguishing set-to-NULL from untouched (the m=1 arm nulls the
    * pdf AND removes its urls entry by content_type/scheme-stripped
    * url; when the scalar was already null and urls are absent the row
    * is NOT touched), in-place urls rewrite for a replaced landing
    * page (m=2), lowercased license + tolerant boolean parse (m=3),
    * the no-op-edit guard (m=4's identical title leaves
    * openalex_updated_dt alone), and is_retracted (m=5). */
  private def q105(s: SparkSession, dir: String): DataFrame = {
    import graft.resolve.LocationCurations
    val o = t(s, dir, "orders")
    val k = col("o_orderkey"); val ks = k.cast("string")
    val hj = pmod(k, lit(9)).cast("string")
    val pdfU = concat(lit("https://H"), hj, lit("/p"), ks)
    val landU = concat(lit("https://H"), hj, lit("/l"), ks)
    def uS(u: Column, ct: String) =
      struct(u.as("url"), lit(ct).as("content_type"))
    val target = o.select(
      concat(lit("L"), ks).as("native_id"), lit("nat")
        .as("native_id_namespace"),
      concat(lit("T"), ks).as("title"),
      when(k % 7 =!= 2, pdfU).as("pdf_url"),
      landU.as("landing_page_url"),
      when(k % 5 =!= 1, lit("cc-by")).as("license"),
      (k % 2 === 0).as("is_oa"),
      lit("article").as("type"), lit("publishedVersion").as("version"),
      when(k % 6 =!= 3, lit("en")).as("language"),
      lit("1").as("issue"), lit("v").as("volume"),
      lit("10").as("first_page"), lit("20").as("last_page"),
      lit(false).as("is_retracted"),
      when(k % 11 =!= 4, array(
        uS(concat(lit("http://H"), hj, lit("/p"), ks), "pdf"),
        uS(landU, "text/html"))).as("urls"),
      lit("2024-01-01").cast("timestamp").as("openalex_updated_dt"))
    val m = pmod(expr("o_orderkey div 4"), lit(6))
    val cur = o.filter(k % 4 === 0)
    def ev(mv: Int, prop: String, value: Column, ts: String,
        extra: Column = lit(true)) =
      cur.filter(m === mv && extra).select(
        concat(lit("L"), ks).as("native_id"),
        lit("nat").as("native_id_namespace"), lit(prop).as("property"),
        value.as("property_value"),
        lit(ts).cast("timestamp").as("moderated_ts"))
    val nullV = lit(null).cast("string")
    val queue = ev(0, "title", lit("Bad Title"), "2024-02-01")
      .unionByName(ev(0, "title", lit("Good Title"), "2024-02-10"))
      .unionByName(ev(1, "pdf_url", nullV, "2024-02-05"))
      .unionByName(ev(2, "landing_page_url",
        concat(lit("https://new"), ks), "2024-02-06"))
      .unionByName(ev(3, "license", lit("CC-BY-SA"), "2024-02-07"))
      .unionByName(ev(3, "is_oa", lit("True"), "2024-02-08"))
      .unionByName(ev(4, "title", concat(lit("T"), ks), "2024-02-09"))
      .unionByName(ev(5, "is_retracted", lit("yes"), "2024-02-11"))
    val out = LocationCurations.applyOverrides(target,
      LocationCurations.fieldOverrides(queue))
    out.select(col("native_id"), col("title"), col("pdf_url"),
      col("landing_page_url"), col("license"),
      col("is_oa").cast("int").as("oa"), col("language"),
      col("is_retracted").cast("int").as("retracted"),
      to_json(col("urls")).as("urls_json"),
      date_format(col("openalex_updated_dt"), "yyyy-MM-dd").as("updated_d"))
  }

  val queries: Map[String, Q] = Map(
    "q71_source_matcher" -> (q71 _),
    "q72_sdg_pipeline" -> (q72 _),
    "q73_funders_api" -> (q73 _),
    "q74_paywall_queues" -> (q74 _),
    "q75_sources_api" -> (q75 _),
    "q89_institutions_api" -> (q89 _),
    "q90_publishers_api" -> (q90 _),
    "q93_ror_registry_sync" -> (q93 _),
    "q100_snapshot_smoke" -> (q100 _),
    "q105_location_curations" -> (q105 _))

  private val q74Oracle: String =
    """WITH b AS (SELECT o_orderkey AS k, o_orderkey % 24 AS m24,
      |  o_orderkey % 12 AS m12, (o_orderkey // 24) % 3 AS m3,
      |  o_orderkey % 5 AS m5,
      |  CAST(o_orderkey AS VARCHAR) AS ks FROM orders),
      |hosts(m12, host) AS (VALUES (0,'www.sciencedirect.com'),
      |  (1,'link.springer.com'),(2,'www.nature.com'),(3,'academic.oup.com'),
      |  (4,'www.tandfonline.com'),(5,'linkinghub.elsevier.com'),
      |  (6,'www.cambridge.org'),(7,'www.researchsquare.com'),
      |  (8,'journals.lww.com'),(9,'onlinelibrary.wiley.com'),
      |  (10,'downloads.hindawi.com'),(11,'img-host.example')),
      |l0 AS (SELECT b.*, h.host,
      |  CASE WHEN m12 = 5 THEN CASE WHEN m24 = 5
      |      THEN 'https://linkinghub.elsevier.com/retrieve/pii/S' || ks
      |      ELSE 'https://linkinghub.elsevier.com/retrieve/noid/' || ks END
      |    WHEN m12 = 11 THEN CASE WHEN m24 = 11
      |      THEN 'https://img-host.example/art/' || ks || '.png?dl=1'
      |      ELSE 'https://img-host.example/art/' || ks || '.gif' END
      |    ELSE 'https://' || host || '/pdf/' || ks END AS pdf_base,
      |  CASE WHEN m12 = 10 AND m24 = 10 THEN 'https://doi.org/10.1155/' || ks
      |    ELSE 'N' || ks END AS native_id,
      |  CASE WHEN m12 = 10 AND m24 = 10 THEN 'doi' ELSE 'nat' END AS nns,
      |  CASE WHEN k % 9 = 5 THEN '2026-07-20' ELSE '2026-07-28' END AS created
      |  FROM b JOIN hosts h USING (m12)),
      |lr AS (
      |  SELECT *, pdf_base AS pdf_url, 1 AS ing, '' AS sfx FROM l0
      |  UNION ALL
      |  SELECT *, pdf_base || '#v2', 2, 'b' FROM l0 WHERE k % 7 = 0),
      |fr AS (SELECT *,
      |  CASE WHEN m3 = 0 THEN 'hk' || ks || sfx || '.html.gz'
      |       WHEN m3 = 1 THEN 'hd' || ks || sfx END AS file_key,
      |  CASE WHEN m3 = 0 THEN 'oai:rep:' || ks ELSE '10.1/' || ks END AS work_key,
      |  CASE WHEN m3 = 0 THEN 'pmh' ELSE 'doi' END AS wkns
      |  FROM lr WHERE created >= '2026-07-27' AND m5 <> 4 AND m3 <> 2),
      |cand AS (SELECT * FROM (SELECT *, row_number() OVER (
      |    PARTITION BY work_key ORDER BY ing DESC) AS rn FROM fr)
      |  WHERE rn = 1 AND file_key IS NOT NULL),
      |harv AS (SELECT DISTINCT CASE WHEN m3 = 0 THEN 'oai:rep:' || ks
      |    ELSE '10.1/' || ks END AS wk FROM b WHERE k % 10 = 6),
      |coh AS (SELECT *, regexp_extract(pdf_url, '^https?://([^/]+)', 1)
      |    AS url_host FROM cand
      |  WHERE work_key NOT IN (SELECT wk FROM harv)
      |    AND k % 20 NOT IN (7, 17)
      |    AND pdf_url NOT IN (SELECT pdf_base FROM l0 WHERE k % 10 = 8)),
      |ch0 AS (SELECT k, m24, work_key, wkns, native_id, nns, pdf_url,
      |  url_host, file_key,
      |  CASE WHEN m24 = 0 THEN '<span class="OpenAccessLabel">OA</span>'
      |    WHEN m24 = 12 THEN '<a class="xPurchasePDF">buy</a>'
      |    WHEN m24 = 1 THEN '<div data-test="open-access"></div>'
      |    WHEN m24 = 13 THEN '<div class="c-article-buy-box">'
      |    WHEN m24 = 2 THEN '<div data-test="open-access">'
      |    WHEN m24 = 14 THEN '<div id="readcube-buybox">'
      |    WHEN m24 = 3 THEN '<a class="get-access-jumplink">'
      |    WHEN m24 = 15 THEN '<p>This is an Open Access article distributed under the terms of CC BY</p>'
      |    WHEN m24 = 4 THEN '<div class="accessDenialWidget">'
      |    WHEN m24 = 16 THEN '<span> Free Access </span>'
      |    WHEN m24 = 5 THEN '<div class="OpenAccessLabel">'
      |    WHEN m24 = 17 THEN '<div class="remoteAccessButton">'
      |    WHEN m24 = 6 THEN '<button class="buttonGetAccess">'
      |    WHEN m24 = 18 THEN '<div>plain article</div>'
      |    WHEN m24 IN (7, 19) THEN '<div>rs page</div>'
      |    WHEN m24 = 8 THEN '<li class="liPurchase">'
      |    WHEN m24 = 20 THEN '<script src="https://jbs.elsevierhealth.com/a.js"></script><div class="article-tools__purchase">'
      |    WHEN m24 = 9 THEN '<span class="doi-access">Open Access</span>'
      |    WHEN m24 = 21 THEN '<div>nothing</div>'
      |    WHEN m24 IN (10, 22) THEN '<div>hindawi page</div>'
      |    ELSE '<div>img</div>' END AS html,
      |  CASE WHEN k % 13 = 0 THEN 'error' ELSE 'ok' END AS status FROM coh),
      |chall AS (SELECT * FROM ch0 UNION ALL
      |  SELECT k, m24, work_key, wkns, native_id, nns, pdf_url || '#x2',
      |    url_host, file_key || 'x2', html, status FROM ch0 WHERE k % 11 = 0),
      |cls AS (SELECT *,
      |  CASE
      |    WHEN url_host = 'www.sciencedirect.com' AND regexp_matches(html, '(?i)(openaccesslabel|class=["''][^"'']*licenseinfo)') THEN 'likely_free'
      |    WHEN url_host = 'www.sciencedirect.com' AND regexp_matches(html, '(?i)(class=["''][^"'']*PurchasePDF|remoteaccessbutton)') THEN 'paywalled'
      |    WHEN url_host = 'link.springer.com' AND regexp_matches(html, '(?i)data-test=["'']open-access') THEN 'likely_free'
      |    WHEN url_host = 'link.springer.com' AND regexp_matches(html, '(?i)(sprcom-buybox|data-test-id=["'']buy-article|c-article-buy-box)') THEN 'paywalled'
      |    WHEN url_host = 'www.nature.com' AND regexp_matches(html, '(?i)data-test=["'']open-access') THEN 'likely_free'
      |    WHEN url_host = 'www.nature.com' AND regexp_matches(html, '(?i)readcube-buybox') THEN 'paywalled'
      |    WHEN url_host = 'academic.oup.com' AND regexp_matches(html, '(?i)(get-access-jumplink|no-access-message)') THEN 'paywalled'
      |    WHEN url_host = 'www.tandfonline.com' AND regexp_matches(html, '(?i)(accessDenialWidget|purchase-options)') THEN 'paywalled'
      |    WHEN url_host = 'linkinghub.elsevier.com' AND regexp_matches(html, '(?i)(openaccesslabel|class=["''][^"'']*licenseinfo)') THEN 'likely_free'
      |    WHEN url_host = 'linkinghub.elsevier.com' AND regexp_matches(html, '(?i)(class=["''][^"'']*PurchasePDF|remoteaccessbutton)') THEN 'paywalled'
      |    WHEN regexp_matches(lower(pdf_url), '\.(jpg|jpeg|png|gif|svg)([?#].*)?$') THEN 'bad_candidate_url'
      |    WHEN url_host = 'www.researchsquare.com' THEN 'likely_free'
      |    WHEN url_host = 'www.cambridge.org' AND regexp_matches(html, 'buttonGetAccess') THEN 'paywalled'
      |    WHEN url_host = 'www.cambridge.org' THEN 'likely_free'
      |    WHEN url_host = 'journals.lww.com' AND regexp_matches(html, '(?i)(liPurchase|ejp-access-options)') THEN 'paywalled'
      |    WHEN html LIKE '%jbs.elsevierhealth.com%' AND regexp_matches(html, '(?i)article-tools__purchase') THEN 'paywalled'
      |    ELSE 'needs_validation' END AS clz,
      |  CASE
      |    WHEN url_host = 'www.sciencedirect.com' AND regexp_matches(html, '(?i)(openaccesslabel|class=["''][^"'']*licenseinfo)') THEN 'sciencedirect_open_access_dom_v1'
      |    WHEN url_host = 'www.sciencedirect.com' AND regexp_matches(html, '(?i)(class=["''][^"'']*PurchasePDF|remoteaccessbutton)') THEN 'sciencedirect_purchase_dom_v1'
      |    WHEN url_host = 'link.springer.com' AND regexp_matches(html, '(?i)data-test=["'']open-access') THEN 'springer_open_access_dom_v1'
      |    WHEN url_host = 'link.springer.com' AND regexp_matches(html, '(?i)(sprcom-buybox|data-test-id=["'']buy-article|c-article-buy-box)') THEN 'springer_buybox_dom_v1'
      |    WHEN url_host = 'www.nature.com' AND regexp_matches(html, '(?i)data-test=["'']open-access') THEN 'nature_open_access_dom_v1'
      |    WHEN url_host = 'www.nature.com' AND regexp_matches(html, '(?i)readcube-buybox') THEN 'nature_buybox_dom_v1'
      |    WHEN url_host = 'academic.oup.com' AND regexp_matches(html, '(?i)(get-access-jumplink|no-access-message)') THEN 'oup_access_message_dom_v1'
      |    WHEN url_host = 'www.tandfonline.com' AND regexp_matches(html, '(?i)(accessDenialWidget|purchase-options)') THEN 'tandfonline_access_denial_dom_v1'
      |    WHEN url_host = 'linkinghub.elsevier.com' AND regexp_matches(html, '(?i)(openaccesslabel|class=["''][^"'']*licenseinfo)') THEN 'linkinghub_sd_open_access_dom_v2'
      |    WHEN url_host = 'linkinghub.elsevier.com' AND regexp_matches(html, '(?i)(class=["''][^"'']*PurchasePDF|remoteaccessbutton)') THEN 'linkinghub_sd_purchase_dom_v2'
      |    WHEN regexp_matches(lower(pdf_url), '\.(jpg|jpeg|png|gif|svg)([?#].*)?$') THEN 'image_pdf_url_v3'
      |    WHEN url_host = 'www.researchsquare.com' THEN 'researchsquare_host_v3'
      |    WHEN url_host = 'www.cambridge.org' AND regexp_matches(html, 'buttonGetAccess') THEN 'cambridge_getaccess_dom_v3'
      |    WHEN url_host = 'www.cambridge.org' THEN 'cambridge_no_getaccess_dom_v3'
      |    WHEN url_host = 'journals.lww.com' AND regexp_matches(html, '(?i)(liPurchase|ejp-access-options)') THEN 'lww_purchase_dom_v3'
      |    WHEN html LIKE '%jbs.elsevierhealth.com%' AND regexp_matches(html, '(?i)article-tools__purchase') THEN 'jbs_purchase_widget_dom_v3'
      |    ELSE 'no_calibrated_html_rule_v1' END AS rule
      |  FROM chall WHERE status = 'ok'),
      |clsy AS (SELECT *, CAST(CASE rule
      |    WHEN 'sciencedirect_open_access_dom_v1' THEN 1.000
      |    WHEN 'springer_open_access_dom_v1' THEN 0.995
      |    WHEN 'nature_open_access_dom_v1' THEN 0.995
      |    WHEN 'sciencedirect_purchase_dom_v1' THEN 0.055
      |    WHEN 'springer_buybox_dom_v1' THEN 0.005
      |    WHEN 'nature_buybox_dom_v1' THEN 0.005
      |    WHEN 'oup_access_message_dom_v1' THEN 0.000
      |    WHEN 'tandfonline_access_denial_dom_v1' THEN 0.000
      |    WHEN 'linkinghub_sd_open_access_dom_v2' THEN 0.981
      |    WHEN 'linkinghub_sd_purchase_dom_v2' THEN 0.055
      |    WHEN 'jbs_purchase_widget_dom_v3' THEN 0.008
      |    WHEN 'image_pdf_url_v3' THEN 0.000
      |    WHEN 'researchsquare_host_v3' THEN 0.966
      |    WHEN 'cambridge_getaccess_dom_v3' THEN 0.000
      |    WHEN 'cambridge_no_getaccess_dom_v3' THEN 0.995
      |    WHEN 'lww_purchase_dom_v3' THEN 0.000
      |    END AS DOUBLE) AS yld FROM cls),
      |dr0 AS (SELECT *, row_number() OVER (PARTITION BY work_key, wkns
      |    ORDER BY yld DESC, file_key) AS drn FROM clsy
      |  WHERE clz = 'likely_free'),
      |dr AS (SELECT work_key, wkns,
      |  CASE WHEN url_host = 'linkinghub.elsevier.com'
      |      AND regexp_extract(pdf_url, 'pii/([A-Za-z0-9]+)', 1) <> ''
      |    THEN 'https://www.sciencedirect.com/science/article/pii/'
      |      || regexp_extract(pdf_url, 'pii/([A-Za-z0-9]+)', 1) || '/pdf'
      |    ELSE pdf_url END AS pdf_url,
      |  url_host, rule, yld FROM dr0 WHERE drn = 1),
      |drq AS (SELECT 'drain' AS queue, work_key, wkns AS work_key_ns, pdf_url,
      |  url_host, rule, yld, CAST(row_number() OVER (PARTITION BY url_host
      |    ORDER BY yld DESC, work_key) AS INTEGER) AS host_rank FROM dr),
      |oa0 AS (SELECT *, row_number() OVER (PARTITION BY work_key, wkns
      |    ORDER BY file_key) AS arn FROM coh
      |  WHERE url_host IN ('www.researchsquare.com', 'www.cambridge.org')),
      |oaq AS (SELECT 'oa_host' AS queue, work_key, wkns AS work_key_ns,
      |  pdf_url, url_host, 'oa_host_prior_v2' AS rule,
      |  CAST(NULL AS DOUBLE) AS yld,
      |  CAST(row_number() OVER (PARTITION BY url_host ORDER BY work_key)
      |    AS INTEGER) AS host_rank FROM oa0 WHERE arn = 1),
      |dp AS (SELECT
      |  CASE WHEN native_id LIKE 'https://doi.org/%' THEN substring(native_id, 17)
      |    ELSE native_id END AS wk2,
      |  CASE WHEN native_id LIKE 'https://doi.org/%' THEN 'doi' ELSE nns END AS ns2,
      |  CASE WHEN url_host = 'downloads.hindawi.com'
      |    THEN 'https://onlinelibrary.wiley.com/doi/pdfdirect/' ||
      |      (CASE WHEN native_id LIKE 'https://doi.org/%'
      |        THEN substring(native_id, 17) ELSE native_id END)
      |    ELSE pdf_url END AS pdf2,
      |  CASE WHEN url_host IN ('onlinelibrary.wiley.com', 'downloads.hindawi.com')
      |      THEN 'wiley'
      |    WHEN url_host = 'www.tandfonline.com' THEN 'tandfonline'
      |    WHEN url_host = 'academic.oup.com' THEN 'oup' END AS bh,
      |  CASE WHEN url_host = 'onlinelibrary.wiley.com' THEN 'wiley_doi_access_badge_v1'
      |    WHEN url_host = 'downloads.hindawi.com' THEN 'hindawi_wiley_rewrite_v1'
      |    WHEN url_host = 'www.tandfonline.com' THEN 'tf_free_access_badge_v1'
      |    WHEN url_host = 'academic.oup.com' THEN 'oup_oa_phrase_v1' END AS dr_rule
      |  FROM clsy WHERE clz = 'needs_validation' AND (
      |    (url_host = 'onlinelibrary.wiley.com' AND regexp_matches(html, '(?i)doi-access[^>]*>\s*(Open|Free) Access'))
      |    OR (url_host = 'downloads.hindawi.com' AND (native_id LIKE 'https://doi.org/10.1155/%' OR native_id LIKE '10.1155/%'))
      |    OR (url_host = 'www.tandfonline.com' AND regexp_matches(html, '(?i)>\s*Free Access\s*<'))
      |    OR (url_host = 'academic.oup.com' AND regexp_matches(html, '(?i)Open Access article distributed under the terms'))))
      |SELECT queue, work_key, work_key_ns, pdf_url, url_host, rule, yld, host_rank FROM drq
      |UNION ALL SELECT queue, work_key, work_key_ns, pdf_url, url_host, rule, yld, host_rank FROM oaq
      |UNION ALL SELECT 'drip', wk2, ns2, pdf2, bh, dr_rule,
      |  CAST(NULL AS DOUBLE), CAST(NULL AS INTEGER) FROM dp""".stripMargin

  private val q75Oracle: String =
    """WITH reg AS (
      |  SELECT c_custkey AS ck, CAST(c_custkey + 500 AS BIGINT) AS id,
      |    CASE WHEN c_custkey % 3 <> 1 THEN c_custkey % 30 + 5 END AS pid,
      |    CASE WHEN c_custkey % 5 IN (1, 2) AND c_custkey % 7 <> 0
      |      THEN c_custkey % 40 + 10 END AS iid,
      |    ['journal','repository','metadata','conference','book series']
      |      [CAST(c_custkey % 5 AS INTEGER) + 1] AS type,
      |    CASE WHEN c_custkey % 4 = 0 THEN 2000 + c_custkey % 20 END AS doaj_since,
      |    CASE WHEN c_custkey % 6 = 0 THEN 2005 + c_custkey % 10 END AS high_since
      |  FROM customer WHERE c_custkey < 250 AND c_custkey % 25 <> 0),
      |wb AS (SELECT o_orderkey AS k,
      |    CAST(o_orderkey % 250 + 500 AS BIGINT) AS sid,
      |    CASE WHEN o_orderkey % 13 <> 0 THEN 2015 + o_orderkey % 10
      |         WHEN o_orderkey % 17 <> 0 THEN 2018 END AS pub_year,
      |    CAST(o_orderkey % 40 AS INTEGER) AS cited,
      |    (o_orderkey % 3 = 0) AS is_oa,
      |    DATE '2020-01-01' + CAST(o_orderkey % 300 AS INTEGER) AS created
      |  FROM orders WHERE o_orderkey % 10 <> 9),
      |met0 AS (SELECT sid,
      |  CAST(count(*) AS INTEGER) AS works_count,
      |  CAST(sum(cited) AS INTEGER) AS cited_by_count,
      |  CAST(sum(CASE WHEN is_oa THEN 1 ELSE 0 END) AS INTEGER) AS oa_works_count,
      |  CAST(count(CASE WHEN cited >= 10 THEN 1 END) AS INTEGER) AS i10,
      |  floor(CAST(sum(CASE WHEN pub_year >= 2023 THEN cited END) AS DOUBLE)
      |    / nullif(CAST(count(CASE WHEN pub_year >= 2023 THEN cited END)
      |        AS DOUBLE), 0)
      |    * 1000000 + 0.5) / 1000000.0 AS rmc,
      |  list_sort(list(cited), 'DESC') AS s,
      |  min(created) AS created_d
      |  FROM wb GROUP BY sid),
      |met AS (SELECT *, CAST(len(list_filter(range(1, len(s)+1),
      |    i -> s[i] >= i)) AS INTEGER) AS h FROM met0),
      |tw AS (
      |  SELECT sid, k, 10000 + k % 41 AS tid FROM wb WHERE k % 4 IN (0, 1, 2)
      |  UNION
      |  SELECT sid, k, 10000 + k % 29 FROM wb WHERE k % 4 = 1),
      |tc AS (SELECT sid, tid, CAST(count(*) AS INTEGER) AS cnt
      |  FROM tw GROUP BY sid, tid),
      |tt AS (SELECT tid, count(*) AS total FROM tw GROUP BY tid),
      |tl AS (SELECT sid, CAST(to_json(list(struct_pack(
      |    id := 'T' || CAST(tid AS VARCHAR),
      |    display_name := 'Topic ' || CAST(tid AS VARCHAR),
      |    "count" := cnt,
      |    subfield := 'SF' || CAST(tid % 6 AS VARCHAR),
      |    field := 'F' || CAST(tid % 4 AS VARCHAR),
      |    domain := 'D' || CAST(tid % 2 AS VARCHAR))
      |    ORDER BY cnt DESC, 'T' || CAST(tid AS VARCHAR) ASC)[1:25])
      |    AS VARCHAR) AS topics_json
      |  FROM tc GROUP BY sid),
      |ts AS (SELECT sid, tid, floor(CAST(cnt AS DOUBLE)
      |    / nullif(CAST(total AS DOUBLE), 0) * 10000000 + 0.5) / 10000000.0
      |    AS value
      |  FROM tc JOIN tt USING (tid)),
      |sl AS (SELECT sid, CAST(to_json(list(struct_pack(
      |    id := 'T' || CAST(tid AS VARCHAR),
      |    display_name := 'Topic ' || CAST(tid AS VARCHAR),
      |    value_e7 := CAST(floor(value * 10000000 + 0.5) AS BIGINT),
      |    subfield := 'SF' || CAST(tid % 6 AS VARCHAR),
      |    field := 'F' || CAST(tid % 4 AS VARCHAR),
      |    domain := 'D' || CAST(tid % 2 AS VARCHAR))
      |    ORDER BY value DESC, 'T' || CAST(tid AS VARCHAR) ASC)[1:25])
      |    AS VARCHAR) AS share_json
      |  FROM ts GROUP BY sid),
      |cb0 AS (SELECT sid, CAST(pub_year AS INTEGER) AS year,
      |  CAST(count(*) AS INTEGER) AS works_count,
      |  CAST(sum(CASE WHEN is_oa THEN 1 ELSE 0 END) AS INTEGER) AS oa_works_count,
      |  CAST(sum(cited) AS INTEGER) AS cited_by_count
      |  FROM wb WHERE pub_year IS NOT NULL GROUP BY sid, pub_year),
      |cbj AS (SELECT sid, CAST(to_json(list(struct_pack(year := year,
      |    works_count := works_count, oa_works_count := oa_works_count,
      |    cited_by_count := cited_by_count) ORDER BY year DESC)) AS VARCHAR)
      |    AS cby_json
      |  FROM cb0 GROUP BY sid),
      |chg AS (SELECT DISTINCT CAST(o_orderkey % 250 + 500 AS BIGINT) AS sid
      |  FROM orders WHERE o_orderkey % 10 <> 9 AND o_orderkey % 997 = 5)
      |SELECT r.id,
      |  'Source ' || CAST(r.id AS VARCHAR) AS display_name,
      |  CASE WHEN r.ck % 2 = 0 THEN 'issnl-' || CAST(r.ck AS VARCHAR) END
      |    AS issn_l,
      |  CASE WHEN r.ck % 3 = 0 THEN CAST(to_json(
      |      ['is-' || CAST(r.ck AS VARCHAR), 'is2-' || CAST(r.ck AS VARCHAR)])
      |      AS VARCHAR)
      |    WHEN r.ck % 3 = 1 THEN CAST(to_json(['is-' || CAST(r.ck AS VARCHAR)])
      |      AS VARCHAR) END AS issn_json,
      |  CASE WHEN r.type = 'repository'
      |    THEN 'https://openalex.org/I' || CAST(r.iid AS VARCHAR)
      |    ELSE 'https://openalex.org/P' || CAST(r.pid AS VARCHAR) END
      |    AS host_organization,
      |  CASE WHEN r.type = 'repository' THEN 'Inst ' || CAST(r.iid AS VARCHAR)
      |    ELSE 'Publisher ' || CAST(r.pid AS VARCHAR) END
      |    AS host_organization_name,
      |  CASE WHEN r.type IN ('repository', 'metadata') AND r.iid IS NOT NULL
      |    THEN CAST(to_json(['https://openalex.org/I' || CAST(r.iid AS VARCHAR)])
      |      AS VARCHAR)
      |    ELSE CAST(to_json(list_filter([
      |      'https://openalex.org/P' || CAST(r.pid AS VARCHAR),
      |      CASE WHEN r.pid % 3 = 0
      |        THEN 'https://openalex.org/P' || CAST(r.pid + 100 AS VARCHAR) END],
      |      x -> x IS NOT NULL)) AS VARCHAR) END AS lineage_json,
      |  coalesce(m.works_count, 0) AS works_count,
      |  coalesce(m.oa_works_count, 0) AS oa_works_count,
      |  coalesce(m.cited_by_count, 0) AS cited_by_count,
      |  coalesce(m.rmc, 0.0) AS rmc,
      |  coalesce(m.h, 0) AS h_index,
      |  coalesce(m.i10, 0) AS i10_index,
      |  CAST(coalesce(CASE WHEN r.ck % 17 <> 0 THEN r.ck % 2 = 1 END, false)
      |    AS INTEGER) AS oa,
      |  CAST(r.ck % 2 = 0 AS INTEGER) AS doaj,
      |  r.doaj_since AS doaj_since,
      |  CAST(r.ck % 3 = 0 AS INTEGER) AS high_oa,
      |  r.high_since AS high_since,
      |  CAST(r.ck % 11 = 0 AS INTEGER) AS scielo,
      |  CAST(r.ck % 5 = 0 AS INTEGER) AS ojs,
      |  CAST(r.ck % 13 = 0 AS INTEGER) AS core,
      |  CAST(r.ck % 5 = 1 AND r.ck % 4 = 0 AS INTEGER) AS preprint,
      |  coalesce(r.high_since, r.doaj_since) - 1 AS oa_flip_year,
      |  CASE WHEN r.ck < 200 THEN 1990 + r.ck % 20 END AS first_publication_year,
      |  CASE WHEN r.ck < 200 THEN 2015 + r.ck % 8 END AS last_publication_year,
      |  CAST(r.id AS VARCHAR) AS mag,
      |  CASE WHEN r.ck % 7 = 0 THEN 'Q' || CAST(r.ck AS VARCHAR) END AS wikidata,
      |  CASE WHEN r.ck % 4 = 2
      |    THEN 'https://s' || CAST(r.ck AS VARCHAR) || '.org' END
      |    AS homepage_url,
      |  CASE WHEN r.ck % 6 = 2 THEN CAST(to_json([struct_pack(
      |      price := CAST(r.ck + 100 AS INTEGER), currency := 'USD')])
      |      AS VARCHAR) END AS apc_prices_json,
      |  CASE WHEN r.ck % 6 = 2 THEN r.ck * 10 END AS apc_usd,
      |  CASE WHEN r.ck % 8 = 4 THEN CAST(to_json([
      |      struct_pack(year := CAST(2023 AS INTEGER),
      |        price := CAST(r.ck + 1 AS INTEGER)),
      |      struct_pack(year := CAST(2022 AS INTEGER),
      |        price := CAST(r.ck AS INTEGER))]) AS VARCHAR)
      |    WHEN r.ck % 8 = 0 THEN CAST(to_json([
      |      struct_pack(year := CAST(2021 AS INTEGER),
      |        price := CAST(r.ck AS INTEGER))]) AS VARCHAR) END AS apc_json,
      |  ['US','BR','DE','JP'][CAST(r.ck % 4 AS INTEGER) + 1] AS country_code,
      |  coalesce(CASE WHEN r.ck % 9 = 3 THEN CAST(to_json([struct_pack(
      |      url := 'https://soc' || CAST(r.ck AS VARCHAR),
      |      organization := 'Soc ' || CAST(r.ck AS VARCHAR))]) AS VARCHAR) END,
      |    '[]') AS societies_json,
      |  coalesce(CASE WHEN r.ck % 6 = 1 THEN CAST(to_json(
      |      ['Alt ' || CAST(r.ck AS VARCHAR)]) AS VARCHAR) END, '[]') AS alt_json,
      |  r.type,
      |  coalesce(t.topics_json, '[]') AS topics_json,
      |  coalesce(s.share_json, '[]') AS share_json,
      |  coalesce(c.cby_json, '[]') AS cby_json,
      |  'https://api.openalex.org/works?filter=primary_location.source.id:S'
      |    || CAST(r.id AS VARCHAR) AS works_api_url,
      |  CASE WHEN ch.sid IS NOT NULL THEN '2024-02-02' ELSE '2024-01-01' END
      |    AS updated_d,
      |  strftime(m.created_d, '%Y-%m-%d') AS created_d
      |FROM reg r
      |LEFT JOIN met m ON r.id = m.sid
      |LEFT JOIN tl t ON r.id = t.sid
      |LEFT JOIN sl s ON r.id = s.sid
      |LEFT JOIN cbj c ON r.id = c.sid
      |LEFT JOIN chg ch ON r.id = ch.sid""".stripMargin

  private val q89Oracle: String =
    """WITH reg AS (SELECT c_custkey AS id FROM customer WHERE c_custkey < 60),
      |active AS (SELECT id FROM reg WHERE id % 23 <> 0),
      |wb0 AS (SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 10 <> 0 THEN 2008 + o_orderkey % 12
      |         WHEN o_orderkey % 20 <> 10 THEN 2013 END AS pub_year,
      |    CAST(o_orderkey % 25 AS INTEGER) AS cited,
      |    (o_orderkey % 3 = 0) AS is_oa
      |  FROM orders),
      |wbrows AS (
      |  SELECT k, CAST(k % 60 AS BIGINT) AS iid, pub_year, cited, is_oa
      |  FROM wb0 WHERE k % 5 IN (0, 1, 3)
      |  UNION ALL
      |  SELECT k, CAST(k % 60 AS BIGINT), pub_year, cited, is_oa
      |  FROM wb0 WHERE k % 5 = 0
      |  UNION ALL
      |  SELECT k, CAST((k * 3) % 60 AS BIGINT), pub_year, cited, is_oa
      |  FROM wb0 WHERE k % 5 = 0),
      |met0 AS (SELECT iid,
      |  CAST(count(DISTINCT k) AS INTEGER) AS works_count,
      |  CAST(sum(cited) AS INTEGER) AS cited_by_count,
      |  CAST(count(CASE WHEN cited >= 10 THEN 1 END) AS INTEGER) AS i10,
      |  floor(CAST(sum(CASE WHEN pub_year >= 2018 THEN cited END) AS DOUBLE)
      |    / nullif(CAST(count(CASE WHEN pub_year >= 2018 THEN cited END)
      |        AS DOUBLE), 0)
      |    * 1000000 + 0.5) / 1000000.0 AS rmc,
      |  list_sort(list(cited), 'DESC') AS s
      |  FROM wbrows GROUP BY iid),
      |met AS (SELECT iid, works_count, cited_by_count, i10,
      |  coalesce(rmc, 0.0) AS rmc,
      |  CAST(len(list_filter(range(1, len(s)+1), i -> s[i] >= i)) AS INTEGER)
      |    AS h
      |  FROM met0),
      |chg AS (SELECT DISTINCT iid FROM wbrows WHERE k % 997 = 5),
      |up AS (SELECT DISTINCT iid, k, pub_year, cited, is_oa FROM wbrows),
      |cb0 AS (SELECT iid, CAST(pub_year AS INTEGER) AS year,
      |  CAST(count(DISTINCT k) AS INTEGER) AS works_count,
      |  CAST(sum(CASE WHEN is_oa THEN 1 ELSE 0 END) AS INTEGER)
      |    AS oa_works_count,
      |  CAST(sum(cited) AS INTEGER) AS cited_by_count
      |  FROM up WHERE pub_year IS NOT NULL AND pub_year >= 2010
      |  GROUP BY iid, pub_year),
      |cbj AS (SELECT iid, CAST(to_json(list(struct_pack(year := year,
      |    works_count := works_count, oa_works_count := oa_works_count,
      |    cited_by_count := cited_by_count) ORDER BY year DESC)) AS VARCHAR)
      |    AS cby_json
      |  FROM cb0 GROUP BY iid),
      |tw AS (
      |  SELECT DISTINCT iid, k, 10000 + k % 41 AS tid FROM wbrows
      |  WHERE k % 4 IN (0, 1, 2)
      |  UNION
      |  SELECT iid, k, 10000 + k % 29 FROM wbrows WHERE k % 4 = 1),
      |tc AS (SELECT iid, tid, CAST(count(DISTINCT k) AS INTEGER) AS cnt
      |  FROM tw GROUP BY iid, tid),
      |tt AS (SELECT tid, count(DISTINCT k) AS total FROM tw GROUP BY tid),
      |tl AS (SELECT iid, CAST(to_json(list(struct_pack(
      |    id := 'T' || CAST(tid AS VARCHAR),
      |    display_name := 'Topic ' || CAST(tid AS VARCHAR),
      |    "count" := cnt,
      |    subfield := 'SF' || CAST(tid % 6 AS VARCHAR),
      |    field := 'F' || CAST(tid % 4 AS VARCHAR),
      |    domain := 'D' || CAST(tid % 2 AS VARCHAR))
      |    ORDER BY cnt DESC, 'T' || CAST(tid AS VARCHAR) ASC)[1:25])
      |    AS VARCHAR) AS topics_json
      |  FROM tc GROUP BY iid),
      |tsv AS (SELECT iid, tid, floor(CAST(cnt AS DOUBLE)
      |    / nullif(CAST(total AS DOUBLE), 0) * 10000000 + 0.5) / 10000000.0
      |    AS value
      |  FROM tc JOIN tt USING (tid)),
      |sl AS (SELECT iid, CAST(to_json(list(struct_pack(
      |    id := 'T' || CAST(tid AS VARCHAR),
      |    display_name := 'Topic ' || CAST(tid AS VARCHAR),
      |    value_e7 := CAST(floor(value * 10000000 + 0.5) AS BIGINT),
      |    subfield := 'SF' || CAST(tid % 6 AS VARCHAR),
      |    field := 'F' || CAST(tid % 4 AS VARCHAR),
      |    domain := 'D' || CAST(tid % 2 AS VARCHAR))
      |    ORDER BY value DESC, 'T' || CAST(tid AS VARCHAR) ASC)[1:25])
      |    AS VARCHAR) AS share_json
      |  FROM tsv GROUP BY iid),
      |lnk AS (
      |  SELECT CAST(c_custkey % 60 AS BIGINT) AS iid,
      |    'P' || CAST(c_custkey % 20 AS VARCHAR) AS ent
      |  FROM customer WHERE c_custkey < 120 AND c_custkey % 4 = 0
      |  UNION ALL
      |  SELECT CAST(c_custkey % 60 AS BIGINT),
      |    'F' || CAST(c_custkey % 50 AS VARCHAR)
      |  FROM customer WHERE c_custkey < 120 AND c_custkey % 4 = 1
      |  UNION ALL
      |  SELECT CAST(c_custkey % 60 AS BIGINT),
      |    'F' || CAST(c_custkey % 50 + 50 AS VARCHAR)
      |  FROM customer WHERE c_custkey < 120 AND c_custkey % 4 = 2),
      |pc AS (SELECT 'P' || CAST(c_custkey AS VARCHAR) AS ent,
      |  CAST((c_custkey * 13) % 89 AS INTEGER) AS wc
      |  FROM customer WHERE c_custkey < 20),
      |fc AS (SELECT 'F' || CAST(c_custkey AS VARCHAR) AS ent,
      |  CAST((c_custkey * 11) % 97 AS INTEGER) AS wc
      |  FROM customer WHERE c_custkey < 100 AND c_custkey % 5 <> 2),
      |rall AS (
      |  SELECT a.id AS iid, 'institution' AS role,
      |    'https://openalex.org/I' || CAST(a.id AS VARCHAR) AS rid,
      |    m.works_count AS wc
      |  FROM active a LEFT JOIN met m ON a.id = m.iid
      |  UNION ALL
      |  SELECT l.iid,
      |    CASE WHEN l.ent LIKE 'P%' THEN 'publisher' ELSE 'funder' END,
      |    'https://openalex.org/' || l.ent, coalesce(pc.wc, fc.wc)
      |  FROM lnk l JOIN active a ON l.iid = a.id
      |  LEFT JOIN pc ON l.ent = pc.ent
      |  LEFT JOIN fc ON l.ent = fc.ent),
      |rded AS (SELECT iid, role, rid, wc, row_number() OVER (
      |    PARTITION BY iid, role ORDER BY wc DESC NULLS LAST, rid ASC) AS rn
      |  FROM rall),
      |rolesj AS (SELECT iid, CAST(to_json(list(struct_pack(role := role,
      |    id := rid, works_count := coalesce(wc, 0))
      |    ORDER BY role ASC, rid ASC)) AS VARCHAR) AS roles_json
      |  FROM rded WHERE rn = 1 OR role <> 'funder' GROUP BY iid),
      |repo AS (SELECT CAST(c_custkey % 60 AS BIGINT) AS iid,
      |    900 + c_custkey AS sid,
      |    'Repo ' || CAST(c_custkey AS VARCHAR) AS rname
      |  FROM customer WHERE c_custkey < 80 AND c_custkey % 2 = 0
      |    AND c_custkey % 3 = 0 AND c_custkey % 18 <> 0),
      |reposj AS (SELECT repo.iid, CAST(to_json(list(struct_pack(
      |    id := 'https://openalex.org/S' || CAST(sid AS VARCHAR),
      |    display_name := rname,
      |    host_organization :=
      |      'https://openalex.org/I' || CAST(repo.iid AS VARCHAR),
      |    host_organization_name := 'Inst ' || CAST(repo.iid AS VARCHAR),
      |    host_organization_lineage :=
      |      ['https://openalex.org/I' || CAST(repo.iid AS VARCHAR)])
      |    ORDER BY 'https://openalex.org/S' || CAST(sid AS VARCHAR) ASC))
      |    AS VARCHAR) AS repos_json
      |  FROM repo JOIN reg r ON repo.iid = r.id GROUP BY repo.iid),
      |rel AS (
      |  SELECT c_custkey AS src, (c_custkey + 7) % 60 AS rid,
      |    ['parent','child','related'][CAST(c_custkey % 3 AS INTEGER) + 1]
      |      AS relationship
      |  FROM customer
      |  WHERE c_custkey < 60 AND c_custkey % 5 = 0 AND c_custkey % 7 <> 3
      |  UNION ALL
      |  SELECT c_custkey, (c_custkey + 14) % 60, 'successor'
      |  FROM customer
      |  WHERE c_custkey < 60 AND c_custkey % 10 = 0 AND c_custkey % 7 <> 3),
      |rtyp AS (SELECT ror_id, lower(coalesce(
      |    max(CASE WHEN lower(typ) <> 'funder' THEN typ END), max(typ)))
      |    AS rtype
      |  FROM (
      |    SELECT '0r' || CAST(c_custkey AS VARCHAR) AS ror_id,
      |      'Education' AS typ
      |    FROM customer WHERE c_custkey < 60 AND c_custkey % 2 = 0
      |    UNION ALL
      |    SELECT '0r' || CAST(c_custkey AS VARCHAR), 'Funder'
      |    FROM customer WHERE c_custkey < 60 AND c_custkey % 3 = 0)
      |  GROUP BY ror_id),
      |assocj AS (SELECT src AS iid, CAST(to_json(list(struct_pack(
      |    id := 'https://openalex.org/I' || CAST(rid AS VARCHAR),
      |    ror := 'https://ror.org/0r' || CAST(rid AS VARCHAR),
      |    display_name := 'Inst ' || CAST(rid AS VARCHAR),
      |    country_code := ['US','DE','BR','JP'][CAST(rid % 4 AS INTEGER) + 1],
      |    "type" := coalesce(rtype, '-'),
      |    relationship := relationship)
      |    ORDER BY 'https://openalex.org/I' || CAST(rid AS VARCHAR) ASC))
      |    AS VARCHAR) AS assoc_json
      |  FROM rel
      |  LEFT JOIN rtyp ON '0r' || CAST(rid AS VARCHAR) = rtyp.ror_id
      |  WHERE rid % 7 <> 3 AND rid % 23 <> 0 AND rid >= 1 AND rid < 60
      |  GROUP BY src),
      |altu AS (
      |  SELECT c_custkey AS id, 'Alt ' || CAST(c_custkey AS VARCHAR) AS alt
      |  FROM customer WHERE c_custkey < 60 AND c_custkey % 3 = 0
      |  UNION
      |  SELECT c_custkey, 'Zed ' || CAST(c_custkey AS VARCHAR)
      |  FROM customer WHERE c_custkey < 60 AND c_custkey % 3 = 0
      |  UNION
      |  SELECT c_custkey, 'Label ' || CAST(c_custkey AS VARCHAR)
      |  FROM customer
      |  WHERE c_custkey < 60 AND c_custkey % 2 = 0 AND c_custkey % 7 <> 3
      |  UNION
      |  SELECT c_custkey, 'Alias ' || CAST(c_custkey AS VARCHAR)
      |  FROM customer
      |  WHERE c_custkey < 60 AND c_custkey % 4 = 0 AND c_custkey % 7 <> 3
      |  UNION
      |  SELECT c_custkey, 'Alt ' || CAST(c_custkey AS VARCHAR)
      |  FROM customer
      |  WHERE c_custkey < 60 AND c_custkey % 12 = 0 AND c_custkey % 7 <> 3),
      |altj AS (SELECT id, CAST(to_json(list(alt ORDER BY alt ASC)) AS VARCHAR)
      |    AS alt_json
      |  FROM altu GROUP BY id),
      |linj AS (SELECT id, CAST(to_json(CASE
      |    WHEN id % 3 = 0 THEN list_sort([
      |      'https://openalex.org/I' || CAST(id AS VARCHAR),
      |      'https://openalex.org/I' || CAST(id + 100 AS VARCHAR),
      |      'https://openalex.org/I' || CAST(id + 101 AS VARCHAR)])
      |    ELSE ['https://openalex.org/I' || CAST(id AS VARCHAR)] END)
      |    AS VARCHAR) AS lineage_json
      |  FROM reg)
      |SELECT CAST(a.id AS BIGINT) AS id,
      |  'Inst ' || CAST(a.id AS VARCHAR) AS display_name,
      |  CASE WHEN a.id % 7 <> 3
      |    THEN 'https://ror.org/0r' || CAST(a.id AS VARCHAR) END AS ror,
      |  ['US','DE','BR','JP'][CAST(a.id % 4 AS INTEGER) + 1] AS country_code,
      |  ['education','facility','government'][CAST(a.id % 3 AS INTEGER) + 1]
      |    AS type,
      |  'https://openalex.org/institution-types/' ||
      |    ['education','facility','government'][CAST(a.id % 3 AS INTEGER) + 1]
      |    AS type_id,
      |  l.lineage_json,
      |  CAST(a.id = 30 AS INTEGER) AS super,
      |  CASE WHEN a.id % 5 <> 2
      |    THEN 'https://i' || CAST(a.id AS VARCHAR) || '.edu' END
      |    AS homepage_url,
      |  CASE WHEN a.id % 6 = 0
      |    THEN 'https://img.example/' || CAST(a.id AS VARCHAR) END
      |    AS image_url,
      |  CASE WHEN a.id % 6 = 0
      |    THEN 'https://img.example/' || CAST(a.id AS VARCHAR) || '/thumb' END
      |    AS thumb_url,
      |  CASE WHEN a.id % 4 = 0 THEN CAST(to_json(
      |    ['A' || CAST(a.id AS VARCHAR)]) AS VARCHAR) END AS acronyms_json,
      |  coalesce(aj.alt_json, '[]') AS alt_json,
      |  coalesce(m.works_count, 0) AS works_count,
      |  coalesce(m.cited_by_count, 0) AS cited_by_count,
      |  'https://openalex.org/I' || CAST(a.id AS VARCHAR) AS openalex_id,
      |  CASE WHEN a.id % 5 = 0 THEN 'grid.' || CAST(a.id AS VARCHAR) END
      |    AS grid,
      |  CASE WHEN a.id % 3 = 1
      |    THEN 'https://en.wikipedia.org/wiki/I' || CAST(a.id AS VARCHAR) END
      |    AS wikipedia,
      |  CASE WHEN a.id % 4 = 2 THEN 'Q' || CAST(a.id * 7 AS VARCHAR) END
      |    AS wikidata,
      |  rj.roles_json,
      |  coalesce(rp.repos_json, '[]') AS repos_json,
      |  'City ' || CAST(a.id % 10 AS VARCHAR) AS city,
      |  CASE WHEN a.id % 9 <> 2 THEN CAST(a.id * 3 AS BIGINT) END
      |    AS geonames_city_id,
      |  CASE WHEN a.id % 8 <> 1 THEN 'Reg ' || CAST(a.id % 5 AS VARCHAR) END
      |    AS region,
      |  'Country ' || CAST(a.id % 4 AS VARCHAR) AS country,
      |  CASE WHEN a.id % 11 <> 4 THEN CAST(a.id AS DOUBLE) / 2 END
      |    AS latitude,
      |  CASE WHEN a.id % 11 <> 4 THEN -CAST(a.id AS DOUBLE) * 1.5 END
      |    AS longitude,
      |  coalesce(t.topics_json, '[]') AS topics_json,
      |  coalesce(s.share_json, '[]') AS share_json,
      |  coalesce(ai.assoc_json, '[]') AS assoc_json,
      |  coalesce(cb.cby_json, '[]') AS cby_json,
      |  coalesce(m.rmc, 0.0) AS rmc,
      |  coalesce(m.h, 0) AS h_index,
      |  coalesce(m.i10, 0) AS i10_index,
      |  CASE WHEN a.id % 2 = 0 AND a.id % 7 <> 3
      |    THEN ['active','inactive','withdrawn'][CAST(a.id % 3 AS INTEGER) + 1]
      |    ELSE 'active' END AS status,
      |  'https://api.openalex.org/works?filter=institutions.id:I' ||
      |    CAST(a.id AS VARCHAR) AS works_api_url,
      |  CASE WHEN ch.iid IS NOT NULL THEN '2024-02-02' ELSE '2024-01-01' END
      |    AS updated_d,
      |  strftime(DATE '2012-01-01' + CAST(a.id AS INTEGER), '%Y-%m-%d')
      |    AS created_d
      |FROM active a
      |LEFT JOIN met m ON a.id = m.iid
      |LEFT JOIN linj l ON a.id = l.id
      |LEFT JOIN altj aj ON a.id = aj.id
      |LEFT JOIN rolesj rj ON a.id = rj.iid
      |LEFT JOIN reposj rp ON a.id = rp.iid
      |LEFT JOIN tl t ON a.id = t.iid
      |LEFT JOIN sl s ON a.id = s.iid
      |LEFT JOIN assocj ai ON a.id = ai.iid
      |LEFT JOIN cbj cb ON a.id = cb.iid
      |LEFT JOIN chg ch ON a.id = ch.iid""".stripMargin

  private val q90Oracle: String =
    """WITH reg AS (SELECT c_custkey AS id FROM customer WHERE c_custkey < 50),
      |active AS (SELECT id FROM reg WHERE id % 21 <> 0),
      |w0 AS (SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 12 <> 0 THEN 2010 + o_orderkey % 14 END
      |      AS py,
      |    CAST(o_orderkey % 30 AS BIGINT) AS cited
      |  FROM orders),
      |pairs AS (
      |  SELECT k, CAST(k % 50 AS BIGINT) AS pid, py, cited
      |  FROM w0 WHERE k % 6 IN (0, 1, 2)
      |  UNION
      |  SELECT k, CAST((k * 7) % 50 AS BIGINT), py, cited
      |  FROM w0 WHERE k % 6 = 0),
      |tot AS (SELECT pid, CAST(count(*) AS BIGINT) AS works_count,
      |    CAST(sum(cited) AS BIGINT) AS cited_by_count
      |  FROM pairs GROUP BY pid),
      |st0 AS (SELECT pid,
      |  CAST(count(CASE WHEN cited >= 10 THEN 1 END) AS INTEGER) AS i10,
      |  floor(CAST(sum(CASE WHEN py >= 2022 THEN cited END) AS DOUBLE)
      |    / nullif(CAST(count(CASE WHEN py >= 2022 THEN cited END)
      |        AS DOUBLE), 0)
      |    * 1000000 + 0.5) / 1000000.0 AS rmc,
      |  list_sort(list(CAST(cited AS INTEGER)), 'DESC') AS s
      |  FROM pairs GROUP BY pid),
      |st AS (SELECT pid, i10, coalesce(rmc, 0.0) AS rmc,
      |  CAST(len(list_filter(range(1, len(s)+1), i -> s[i] >= i)) AS INTEGER)
      |    AS h
      |  FROM st0),
      |chg AS (SELECT DISTINCT pid FROM pairs WHERE k % 991 = 3),
      |cb0 AS (SELECT pid, CAST(py AS INTEGER) AS year,
      |  CAST(count(*) AS BIGINT) AS works_count,
      |  CAST(sum(cited) AS BIGINT) AS cited_by_count
      |  FROM pairs WHERE py IS NOT NULL AND py BETWEEN 2014 AND 2021
      |  GROUP BY pid, py),
      |cbj AS (SELECT pid, CAST(to_json(list(struct_pack(year := year,
      |    works_count := works_count, cited_by_count := cited_by_count)
      |    ORDER BY year DESC)) AS VARCHAR) AS cby_json
      |  FROM cb0 GROUP BY pid),
      |lnk AS (
      |  SELECT CAST(c_custkey % 50 AS BIGINT) AS pid,
      |    'I' || CAST(c_custkey % 30 AS VARCHAR) AS ent
      |  FROM customer WHERE c_custkey < 100 AND c_custkey % 4 = 0
      |  UNION ALL
      |  SELECT CAST(c_custkey % 50 AS BIGINT),
      |    'F' || CAST(c_custkey % 40 AS VARCHAR)
      |  FROM customer WHERE c_custkey < 100 AND c_custkey % 4 = 1
      |  UNION ALL
      |  SELECT CAST(c_custkey % 50 AS BIGINT),
      |    'F' || CAST(c_custkey % 40 + 40 AS VARCHAR)
      |  FROM customer WHERE c_custkey < 100 AND c_custkey % 4 = 2),
      |ic AS (SELECT 'I' || CAST(c_custkey AS VARCHAR) AS ent,
      |  CAST((c_custkey * 17) % 83 AS INTEGER) AS wc
      |  FROM customer WHERE c_custkey < 30 AND c_custkey % 4 <> 1),
      |fc AS (SELECT 'F' || CAST(c_custkey AS VARCHAR) AS ent,
      |  CAST((c_custkey * 7) % 71 AS INTEGER) AS wc
      |  FROM customer WHERE c_custkey < 80 AND c_custkey % 6 <> 2),
      |rall AS (
      |  SELECT a.id AS pid, 'publisher' AS role,
      |    'https://openalex.org/P' || CAST(a.id AS VARCHAR) AS rid,
      |    CAST(t.works_count AS INTEGER) AS wc
      |  FROM active a LEFT JOIN tot t ON a.id = t.pid
      |  UNION ALL
      |  SELECT l.pid,
      |    CASE WHEN l.ent LIKE 'I%' THEN 'institution' ELSE 'funder' END,
      |    'https://openalex.org/' || l.ent, coalesce(ic.wc, fc.wc)
      |  FROM lnk l JOIN active a ON l.pid = a.id
      |  LEFT JOIN ic ON l.ent = ic.ent
      |  LEFT JOIN fc ON l.ent = fc.ent),
      |rded AS (SELECT pid, role, rid, wc, row_number() OVER (
      |    PARTITION BY pid, role ORDER BY wc DESC NULLS LAST, rid ASC) AS rn
      |  FROM rall),
      |rolesj AS (SELECT pid, CAST(to_json(list(struct_pack(role := role,
      |    id := rid, works_count := coalesce(wc, 0))
      |    ORDER BY role ASC, rid ASC)) AS VARCHAR) AS roles_json
      |  FROM rded WHERE rn = 1 OR role <> 'funder' GROUP BY pid)
      |SELECT CAST(a.id AS BIGINT) AS id,
      |  'Pub ' || CAST(a.id AS VARCHAR) AS display_name,
      |  CAST(to_json(['https://openalex.org/P' || CAST(a.id AS VARCHAR)])
      |    AS VARCHAR) AS lineage_json,
      |  CASE WHEN a.id % 3 = 0 THEN CAST(to_json(
      |      ['Apub ' || CAST(a.id AS VARCHAR),
      |       'Bpub ' || CAST(a.id AS VARCHAR)]) AS VARCHAR) END AS alt_json,
      |  CASE WHEN a.id % 4 = 0 THEN CAST(to_json(['US','DE']) AS VARCHAR)
      |       WHEN a.id % 4 = 1 THEN CAST(to_json(['BR']) AS VARCHAR) END
      |    AS cc_json,
      |  CAST(a.id % 3 AS INTEGER) AS hierarchy_level,
      |  CASE WHEN a.id % 5 = 0
      |    THEN 'https://openalex.org/P' || CAST(a.id + 200 AS VARCHAR) END
      |    AS parent_id,
      |  'https://openalex.org/P' || CAST(a.id AS VARCHAR) AS openalex_id,
      |  CASE WHEN a.id % 6 <> 2
      |    THEN 'https://ror.org/0p' || CAST(a.id AS VARCHAR) END AS ror,
      |  CASE WHEN a.id % 4 = 2 THEN 'Q' || CAST(a.id * 3 AS VARCHAR) END
      |    AS wikidata,
      |  CASE WHEN a.id % 7 = 0
      |    THEN 'https://img.example/p' || CAST(a.id AS VARCHAR) END
      |    AS image_url,
      |  CASE WHEN a.id % 7 = 0
      |    THEN 'https://img.example/p' || CAST(a.id AS VARCHAR) || '/t' END
      |    AS thumb_url,
      |  CASE WHEN a.id % 5 <> 3
      |    THEN 'https://p' || CAST(a.id AS VARCHAR) || '.com' END
      |    AS homepage_url,
      |  coalesce(t.works_count, 0) AS works_count,
      |  coalesce(t.cited_by_count, 0) AS cited_by_count,
      |  coalesce(s.rmc, 0.0) AS rmc,
      |  s.h AS h_index,
      |  coalesce(s.i10, 0) AS i10_index,
      |  rj.roles_json,
      |  coalesce(cb.cby_json, '[]') AS cby_json,
      |  'https://api.openalex.org/sources?filter=host_organization.id:P' ||
      |    CAST(a.id AS VARCHAR) AS sources_api_url,
      |  strftime(DATE '2013-01-01' + CAST(a.id AS INTEGER), '%Y-%m-%d')
      |    AS created_d,
      |  CASE WHEN ch.pid IS NOT NULL THEN '2024-04-04' ELSE '2024-03-01' END
      |    AS updated_d
      |FROM active a
      |LEFT JOIN tot t ON a.id = t.pid
      |LEFT JOIN st s ON a.id = s.pid
      |LEFT JOIN rolesj rj ON a.id = rj.pid
      |LEFT JOIN cbj cb ON a.id = cb.pid
      |LEFT JOIN chg ch ON a.id = ch.pid""".stripMargin

  private val q93Oracle: String =
    """WITH r0 AS (SELECT c_custkey AS ck FROM customer WHERE c_custkey < 200),
      |flds AS (SELECT ck, '0x' || CAST(ck AS VARCHAR) AS bror,
      |  (ck % 7 = 6) AS withdrawn,
      |  'Ror Inst ' || CAST(ck AS VARCHAR) AS dn,
      |  CASE WHEN ck % 3 = 0 THEN 'education' WHEN ck % 3 = 1 THEN 'funder'
      |       ELSE 'facility' END AS ty,
      |  CASE WHEN ck % 2 = 0 OR ck % 4 = 1
      |    THEN 'https://w' || CAST(ck AS VARCHAR) END AS op,
      |  CASE WHEN ck % 4 = 1
      |    THEN 'https://wiki/' || CAST(ck AS VARCHAR) END AS wp,
      |  CASE WHEN ck % 5 = 0 THEN 'grid.' || CAST(ck AS VARCHAR) END AS grid,
      |  CASE WHEN ck % 5 IN (0, 1) THEN 'Q' || CAST(ck AS VARCHAR) END AS wd,
      |  CASE WHEN ck % 9 <> 4 THEN 'CC' || CAST(ck % 4 AS VARCHAR) END AS cc,
      |  CASE WHEN ck % 9 <> 4 THEN CAST(ck AS DOUBLE) / 4 END AS lat,
      |  CASE WHEN ck % 9 <> 4 THEN CAST(ck AS DOUBLE) * 2 END AS lng,
      |  CASE WHEN ck % 9 <> 4
      |    THEN 'City' || CAST(ck % 10 AS VARCHAR) END AS city,
      |  CASE WHEN ck % 9 <> 4 AND ck % 8 <> 2
      |    THEN 'Sub' || CAST(ck % 5 AS VARCHAR) END AS region,
      |  CASE WHEN ck % 9 <> 4
      |    THEN 'Ctry' || CAST(ck % 3 AS VARCHAR) END AS ctry,
      |  CASE WHEN ck % 9 <> 4 THEN CAST(ck * 7 AS BIGINT) END AS geo,
      |  CASE WHEN ck % 4 = 0 THEN CAST(to_json(
      |    ['AC' || CAST(ck AS VARCHAR)]) AS VARCHAR) ELSE '[]' END AS acr,
      |  CASE WHEN ck % 6 = 0 THEN CAST(to_json(
      |      ['Alias ' || CAST(ck AS VARCHAR),
      |       'Alias2 ' || CAST(ck AS VARCHAR)]) AS VARCHAR)
      |    WHEN ck % 3 = 0 THEN CAST(to_json(
      |      ['Alias ' || CAST(ck AS VARCHAR)]) AS VARCHAR)
      |    ELSE '[]' END AS alt,
      |  CAST(CASE WHEN ck % 4 IN (0, 2) THEN 1 ELSE 0 END AS BIGINT)
      |    AS n_rel,
      |  CASE WHEN ck % 5 = 0 THEN CAST(to_json(
      |      ['en:Ror Inst ' || CAST(ck AS VARCHAR),
      |       'es:Etiqueta ' || CAST(ck AS VARCHAR)]) AS VARCHAR)
      |    ELSE CAST(to_json(['en:Ror Inst ' || CAST(ck AS VARCHAR)])
      |      AS VARCHAR) END AS labels,
      |  CASE WHEN ck % 6 = 0 THEN CAST(to_json(
      |      ['Alias ' || CAST(ck AS VARCHAR),
      |       'Alias2 ' || CAST(ck AS VARCHAR)]) AS VARCHAR)
      |    WHEN ck % 3 = 0 THEN CAST(to_json(
      |      ['Alias ' || CAST(ck AS VARCHAR)]) AS VARCHAR)
      |    ELSE '[]' END AS aliases,
      |  CASE WHEN ck % 3 = 0
      |      THEN CAST(to_json(['Funder','education']) AS VARCHAR)
      |    WHEN ck % 3 = 1 THEN CAST(to_json(['Funder']) AS VARCHAR)
      |    ELSE CAST(to_json(['facility']) AS VARCHAR) END AS tys
      |  FROM r0),
      |reg AS (SELECT ck, ck + 1000 AS id,
      |   CASE WHEN ck % 50 <> 49 THEN '0x' || CAST(ck AS VARCHAR) END
      |     AS bror,
      |   (ck % 31 = 0) AS merged
      |  FROM r0 WHERE ck < 150 AND ck % 3 <> 1),
      |newk AS (SELECT f.ck, f.bror,
      |    1149 + row_number() OVER (ORDER BY f.bror) AS nid
      |  FROM flds f LEFT JOIN reg ON f.bror = reg.bror
      |  WHERE reg.id IS NULL AND NOT f.withdrawn)
      |SELECT CASE WHEN do_upd THEN 'updated' ELSE 'kept' END AS tag,
      |  CAST(id AS BIGINT) AS id,
      |  CASE WHEN bror IS NOT NULL THEN 'https://ror.org/' || bror END
      |    AS ror,
      |  CASE WHEN do_upd THEN dn
      |    ELSE 'Inst ' || CAST(rck AS VARCHAR) END AS display_name,
      |  CASE WHEN do_upd THEN op END AS official_page,
      |  CASE WHEN do_upd THEN wp END AS wiki_page,
      |  CASE WHEN do_upd THEN cc ELSE 'US' END AS country_code,
      |  CASE WHEN do_upd THEN lat
      |    ELSE CAST(rck AS DOUBLE) / 10 END AS latitude,
      |  CASE WHEN do_upd THEN lng END AS longitude,
      |  CASE WHEN do_upd THEN grid END AS grid_id,
      |  CASE WHEN do_upd THEN wd END AS wikidata_id,
      |  CAST(merged AS INTEGER) AS merged,
      |  CASE WHEN do_upd THEN city ELSE 'OldCity' END AS city,
      |  CASE WHEN do_upd THEN region END AS region,
      |  CASE WHEN do_upd THEN ctry ELSE 'OldCountry' END AS country,
      |  CASE WHEN do_upd THEN geo ELSE CAST(rck AS BIGINT) END
      |    AS geonames_city_id,
      |  CASE WHEN do_upd THEN ty ELSE 'education' END AS type,
      |  CASE WHEN do_upd THEN acr END AS acr_json,
      |  CASE WHEN do_upd THEN alt
      |    WHEN rck % 9 = 0 THEN CAST(to_json(['OldAlt']) AS VARCHAR) END
      |    AS alt_json,
      |  '2020-01-01' AS created_d,
      |  CASE WHEN do_upd THEN '2024-06-01' ELSE '2024-01-15' END
      |    AS updated_d,
      |  coalesce(n_rel, 0) AS n_rel,
      |  coalesce(labels, '[]') AS labels_json,
      |  coalesce(aliases, '[]') AS aliases_json,
      |  coalesce(tys, '[]') AS types_json
      |FROM (
      |  SELECT reg.ck AS rck, reg.id, reg.bror, reg.merged,
      |    (f.ck IS NOT NULL AND NOT reg.merged AND NOT f.withdrawn
      |     AND reg.ck % 40 >= 15) AS do_upd,
      |    f.dn, f.op, f.wp, f.cc, f.lat, f.lng, f.grid, f.wd, f.city,
      |    f.region, f.ctry, f.geo, f.ty, f.acr, f.alt, f.n_rel, f.labels,
      |    f.aliases, f.tys
      |  FROM reg LEFT JOIN flds f ON reg.bror = f.bror)
      |UNION ALL
      |SELECT 'inserted', CAST(n.nid AS BIGINT),
      |  'https://ror.org/' || n.bror, f.dn, f.op, f.wp, f.cc, f.lat, f.lng,
      |  f.grid, f.wd, 0, f.city, f.region, f.ctry, f.geo, f.ty, f.acr,
      |  f.alt, '2024-06-01', '2024-06-01', f.n_rel, f.labels, f.aliases,
      |  f.tys
      |FROM newk n JOIN flds f ON n.bror = f.bror""".stripMargin

  private val q100Oracle: String =
    """WITH ko AS (SELECT o_orderkey AS k FROM orders),
      |wk AS (SELECT k FROM ko UNION ALL SELECT k FROM ko WHERE k % 997 = 1),
      |au AS (SELECT 'https://openalex.org/' ||
      |    (CASE WHEN c_custkey % 41 = 0 THEN 'B' ELSE 'A' END) ||
      |    CAST(c_custkey AS VARCHAR) AS id
      |  FROM customer WHERE c_custkey < 500
      |  UNION ALL
      |  SELECT 'https://openalex.org/A' || CAST(c_custkey AS VARCHAR)
      |  FROM customer WHERE c_custkey < 500 AND c_custkey % 97 = 3),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS total,
      |    CAST(count(CASE WHEN k % 4 <> 0 THEN 1 END) AS BIGINT) AS nx
      |  FROM wk),
      |r AS (
      |  SELECT 'works' AS entity, 'id_format_bad' AS chk,
      |    CAST(count(CASE WHEN k % 97 = 0 OR k % 89 = 0 THEN 1 END)
      |      AS BIGINT) AS value
      |  FROM wk
      |  UNION ALL SELECT 'authors', 'id_format_bad',
      |    CAST(count(CASE WHEN id NOT LIKE 'https://openalex.org/A%' THEN 1
      |      END) AS BIGINT)
      |  FROM au
      |  UNION ALL SELECT 'works', 'duplicate_ids',
      |    CAST(count(*) - count(DISTINCT k) AS BIGINT) FROM wk
      |  UNION ALL SELECT 'authors', 'duplicate_ids',
      |    CAST(count(*) - count(DISTINCT id) AS BIGINT) FROM au
      |  UNION ALL SELECT 'works', 'null_id', CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'works', 'null_type',
      |    CAST(count(CASE WHEN k % 50 = 7 THEN 1 END) AS BIGINT) FROM wk
      |  UNION ALL SELECT 'works', 'null_is_paratext', CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'works', 'null_title',
      |    CAST(count(CASE WHEN k % 15 = 0 THEN 1 END) AS BIGINT) FROM wk
      |  UNION ALL SELECT 'works', 'null_publication_year',
      |    CAST(count(CASE WHEN k % 200 = 5 THEN 1 END) AS BIGINT) FROM wk
      |  UNION ALL SELECT 'works', 'total', CAST(count(*) AS BIGINT) FROM wk
      |  UNION ALL SELECT 'works', 'with_authorships',
      |    CAST(count(CASE WHEN k % 10 <> 0 THEN 1 END) AS BIGINT) FROM wk
      |  UNION ALL SELECT 'works', 'with_affiliations',
      |    CAST(count(CASE WHEN k % 10 NOT IN (0, 1) THEN 1 END) AS BIGINT)
      |  FROM wk
      |  UNION ALL SELECT 'works', 'recent_total',
      |    CAST(count(CASE WHEN k % 200 <> 5 AND k % 25 >= 20 THEN 1 END)
      |      AS BIGINT)
      |  FROM wk
      |  UNION ALL SELECT 'works', 'recent_with_affiliations',
      |    CAST(count(CASE WHEN k % 200 <> 5 AND k % 25 >= 20
      |      AND k % 10 NOT IN (0, 1) THEN 1 END) AS BIGINT)
      |  FROM wk
      |  UNION ALL SELECT 'works', 'with_keywords',
      |    CAST(count(CASE WHEN k % 3 = 0 THEN 1 END) AS BIGINT) FROM wk
      |  UNION ALL SELECT 'works', 'with_sdgs',
      |    CAST(count(CASE WHEN k % 7 = 0 THEN 1 END) AS BIGINT) FROM wk
      |  UNION ALL SELECT 'works', 'non_xpac_total',
      |    CAST(count(CASE WHEN k % 4 <> 0 THEN 1 END) AS BIGINT) FROM wk
      |  UNION ALL SELECT 'works', 'non_xpac_with_keywords',
      |    CAST(count(CASE WHEN k % 4 <> 0 AND k % 3 = 0 THEN 1 END)
      |      AS BIGINT)
      |  FROM wk
      |  UNION ALL SELECT 'works', 'invalid_abstract_json',
      |    CAST(count(CASE WHEN k % 11 <> 0 AND (k % 13 = 0 OR k % 17 = 0)
      |      THEN 1 END) AS BIGINT)
      |  FROM wk)
      |SELECT r.entity, r.chk AS "check", r.value,
      |  CAST(CASE
      |    WHEN r.chk IN ('id_format_bad', 'duplicate_ids', 'null_id',
      |      'null_type', 'null_is_paratext') THEN r.value = 0
      |    WHEN r.chk IN ('null_title', 'null_publication_year')
      |      THEN r.value < t.total * 0.10
      |    WHEN r.chk = 'with_keywords' THEN r.value >= t.total * 0.50
      |    WHEN r.chk = 'non_xpac_with_keywords'
      |      THEN r.value >= t.nx * 0.65
      |    WHEN r.chk = 'invalid_abstract_json' THEN r.value < 1000
      |  END AS INTEGER) AS passed
      |FROM r CROSS JOIN tot t""".stripMargin

  private val q105Oracle: String =
    """WITH w AS (SELECT o_orderkey AS k, o_orderkey % 9 AS j,
      |    (o_orderkey % 4 = 0) AS cu, (o_orderkey // 4) % 6 AS m
      |  FROM orders),
      |b AS (SELECT *,
      |    CASE WHEN k % 7 <> 2 THEN 'https://H' || CAST(j AS VARCHAR) ||
      |      '/p' || CAST(k AS VARCHAR) END AS pdf0,
      |    'https://H' || CAST(j AS VARCHAR) || '/l' || CAST(k AS VARCHAR)
      |      AS land0,
      |    'http://H' || CAST(j AS VARCHAR) || '/p' || CAST(k AS VARCHAR)
      |      AS updf,
      |    (k % 11 <> 4) AS hasu,
      |    CASE WHEN cu AND m = 1 THEN (k % 7 <> 2 OR k % 11 <> 4)
      |         WHEN cu AND m = 4 THEN false
      |         WHEN cu THEN true ELSE false END AS chg
      |  FROM w)
      |SELECT 'L' || CAST(k AS VARCHAR) AS native_id,
      |  CASE WHEN cu AND m = 0 THEN 'Good Title'
      |       ELSE 'T' || CAST(k AS VARCHAR) END AS title,
      |  CASE WHEN cu AND m = 1 AND chg THEN NULL ELSE pdf0 END AS pdf_url,
      |  CASE WHEN cu AND m = 2 THEN 'https://new' || CAST(k AS VARCHAR)
      |       ELSE land0 END AS landing_page_url,
      |  CASE WHEN cu AND m = 3 THEN 'cc-by-sa'
      |       WHEN k % 5 <> 1 THEN 'cc-by' END AS license,
      |  CASE WHEN cu AND m = 3 THEN 1
      |       ELSE CAST(k % 2 = 0 AS INTEGER) END AS oa,
      |  CASE WHEN k % 6 <> 3 THEN 'en' END AS language,
      |  CAST(cu AND m = 5 AS INTEGER) AS retracted,
      |  CASE WHEN NOT hasu THEN NULL
      |    WHEN cu AND m = 1 AND chg THEN CAST(to_json([struct_pack(
      |      url := land0, content_type := 'text/html')]) AS VARCHAR)
      |    WHEN cu AND m = 2 THEN CAST(to_json([
      |      struct_pack(url := updf, content_type := 'pdf'),
      |      struct_pack(url := 'https://new' || CAST(k AS VARCHAR),
      |        content_type := 'text/html')]) AS VARCHAR)
      |    ELSE CAST(to_json([
      |      struct_pack(url := updf, content_type := 'pdf'),
      |      struct_pack(url := land0, content_type := 'text/html')])
      |      AS VARCHAR) END AS urls_json,
      |  CASE WHEN NOT (cu AND chg) THEN '2024-01-01'
      |    WHEN m = 0 THEN '2024-02-10' WHEN m = 1 THEN '2024-02-05'
      |    WHEN m = 2 THEN '2024-02-06' WHEN m = 3 THEN '2024-02-08'
      |    ELSE '2024-02-11' END AS updated_d
      |FROM b""".stripMargin

  val oracle: Map[String, String] = Map(
    "q71_source_matcher" -> q71Oracle,
    "q72_sdg_pipeline" -> q72Oracle,
    "q73_funders_api" -> q73Oracle,
    "q74_paywall_queues" -> q74Oracle,
    "q75_sources_api" -> q75Oracle,
    "q89_institutions_api" -> q89Oracle,
    "q90_publishers_api" -> q90Oracle,
    "q93_ror_registry_sync" -> q93Oracle,
    "q100_snapshot_smoke" -> q100Oracle,
    "q105_location_curations" -> q105Oracle)
}
