package graft.awards

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-funder field mapping shared by both ingest shapes (the
  * single-funder cross-join and the resolved multi-funder join). Each
  * award field is declared here once. A field the source does not map
  * keeps its default, a typed NULL (for the investigator slots, the
  * NULL investigator struct / array; for works_api_url, the standard
  * mint-derived URL). The fields without a default decide what a row
  * is and which rows land, so every config states them. */
final case class AwardFieldMap(
    provenance: String,
    priority: Int,
    /** The hash-key suffix: `abs(xxhash64(funder_id || ':' || mintKey))`.
      * USAspending/ANR pass `lower(raw_id)`; Abel `'abel:' || slug`. */
    mintKey: Column,
    funderAwardId: Column,
    displayName: Column,
    fundingType: Column,
    /** Step-2 WHERE: rows without a usable source award id are dropped. */
    rowFilter: Column,
    description: Column = lit(null).cast("string"),
    amount: Column = lit(null).cast("double"),
    currency: Column = lit(null).cast("string"),
    funderScheme: Column = lit(null).cast("string"),
    startDate: Column = lit(null).cast("date"),
    endDate: Column = lit(null).cast("date"),
    startYear: Column = lit(null).cast("int"),
    endYear: Column = lit(null).cast("int"),
    leadInvestigator: Column = FunderIngest.nullInvestigator,
    landingPageUrl: Column = lit(null).cast("string"),
    doi: Column = lit(null).cast("string"),
    /** The full investigator list — null for most sources; NSERC fills
      * it from the co-applicants side table (CreateNSERCAwards cell 8's
      * `coapplicants_agg` LEFT JOIN — `FunderConfigs.nserc` +
      * `nsercCoapplicantsAgg`). */
    investigators: Column = FunderIngest.nullInvestigators,
    /** None → the standard mint-derived works_api_url; Some(expr) for
      * the sources whose notebooks deviate (`FunderConfigs.cruk` /
      * `FunderConfigs.ncn` emit NULL). */
    worksApiUrl: Option[Column] = None,
    /** The co-lead slot — null for most sources; FWO fills it from the
      * FRIS co-promoter (CreateFWOAwards.ipynb cell 12's
      * `colead_given_name/colead_family_name` CASE). */
    coLeadInvestigator: Column = FunderIngest.nullInvestigator)

/** The two ingest shapes: how a raw row is bound to its funder. */
sealed trait FunderIngestShape {
  def fields: AwardFieldMap
}

/** The single-funder archetype: every row belongs to `funderId`. */
final case class FunderIngestConfig(funderId: Long, fields: AwardFieldMap)
  extends FunderIngestShape

/** The resolved multi-funder archetype (NIH ExPORTER's
  * administering_ic map, GTR's grant-reference prefix map, CORDIS'
  * framework/scheme routing): one raw landing carries awards of
  * SEVERAL funders and a per-row expression resolves which, before a
  * broadcast join against a bounded funder lookup.
  *
  * `resolvedFunderId` is evaluated against the raw columns; rows
  * resolving to NULL are dropped (the reference's
  * `WHERE matched_funder_id IS NOT NULL` — GTR) — sources that want a
  * default instead bake a `coalesce(..., lit(default))` into the
  * expression (NIH, ERC). The resolved id then feeds the same mint
  * (`funder_id || ':' || mintKey`), so the same source award id under
  * two funders mints two distinct award ids, exactly as the
  * reference's per-row `f.funder_id` concat does. */
final case class ResolvedFunderIngestConfig(resolvedFunderId: Column,
    fields: AwardFieldMap)
  extends FunderIngestShape

/** The per-funder award ingest pattern (reference: the ~100
  * `notebooks/awards/Create<Funder>Awards.ipynb` one-offs — every one
  * is the SAME transform with per-funder field mappings; studied
  * against the three pattern representatives: `CreateACFAwards.ipynb`
  * cell 10 (USAspending federal grants), `CreateANRAwards.ipynb`
  * cell 7 (open-data grants with a scheme→type cascade and a PI
  * struct), `CreateAbelPrizeAwards.ipynb` cell 11 (the prize pattern:
  * year-boundary amount × laureate portion)).
  *
  * The durable shape, declarative here as [[FunderIngestConfig]]:
  *  - fail-fast funder resolution (Step 1.6: the `CROSS JOIN ...
  *    WHERE funder_id = N` silently emits zero rows if the registry
  *    row is missing — assert presence BEFORE transforming);
  *  - id mint `abs(xxhash64(funder_id || ':' || key)) % 9e9`
  *    (injectable, the repo's xxhash64-vs-oracle convention) — the
  *    same mint feeds `works_api_url`;
  *  - the funder struct from the registry row; per-funder
  *    display_name/description/amount/currency/type/scheme/date
  *    mappings; null investigator slots unless the source publishes
  *    PI info;
  *  - delete-insert landing at the funder's (provenance, priority)
  *    slice ([[WorkFunders.insertAwardsToRaw]]);
  *  - the §6.3 completeness and §6.7 amount/currency fail-fast
  *    verification reports (post-PR-80 canonical queries).
  *
  * The defaults rule: a config states only the fields it maps. Every
  * field the source leaves unmapped takes its [[AwardFieldMap]]
  * default, a typed NULL, so a config never restates one; the fields
  * with no default (provenance, priority, mint key, award id, title,
  * funding type, row filter) plus the funder binding are always
  * written out.
  *
  * 100 TB posture: the transform is a single narrow projection over
  * the raw landing with one broadcast 1-row cross join; the landing
  * slice replace is a partition-prunable anti-filter + union. The
  * registry lookup reads 2 rows driver-side (a bounded keyed lookup,
  * same class as the IdMinter max-id).
  */
object FunderIngest {

  /** The affiliation `ids` array type of an investigator slot. */
  private[awards] val affIds: String =
    "array<struct<id:string,type:string,asserted_by:string>>"

  /** The shared investigator slot type (identical across all three
    * pattern notebooks). */
  val InvestigatorType: String =
    "struct<given_name:string,family_name:string,orcid:string," +
      "role_start:date,affiliation:struct<name:string,country:string," +
      s"ids:$affIds>>"

  def nullInvestigator: Column = lit(null).cast(InvestigatorType)

  def nullInvestigators: Column =
    lit(null).cast(s"array<$InvestigatorType>")

  /** One investigator slot; orcid, role start and affiliation ids are
    * NULL unless the source publishes them. */
  private[awards] def investigator(given: Column, family: Column,
      affName: Column, affCountry: Column,
      orcid: Column = lit(null).cast("string"),
      roleStart: Column = lit(null).cast("date"),
      ids: Column = lit(null).cast(affIds)): Column =
    struct(given.as("given_name"), family.as("family_name"),
      orcid.as("orcid"), roleStart.as("role_start"),
      struct(affName.as("name"), affCountry.as("country"),
        ids.as("ids")).as("affiliation"))

  /** TRY_TO_DATE over an ISO `yyyy-MM-dd` string. */
  private[awards] def d(c: Column): Column =
    to_date(try_to_timestamp(c, lit("yyyy-MM-dd")))

  /** Blank-to-NULL: `NULLIF(TRIM(c), '')`. */
  private[awards] def nzt(c: Column): Column = nullif(trim(c), lit(""))

  /** An ordered LIKE cascade (a scheme→type CASE): the first arm whose
    * `%pattern%` matches wins, `default` otherwise — NULL input falls
    * to the default exactly as SQL CASE does. One flat CASE WHEN. */
  def likeCascade(c: Column, arms: Seq[(String, String)],
      default: String): Column = {
    val ((p0, v0), rest) = (arms.head, arms.tail)
    rest.foldLeft(when(c.like(s"%$p0%"), v0)) { case (acc, (p, v)) =>
      acc.when(c.like(s"%$p%"), v)
    }.otherwise(default)
  }

  private def defaultMint(c: Column): Column =
    pmod(abs(xxhash64(c)), lit(9000000000L))

  /** Step 1.6 fail-fast: the funder row must exist (exactly once) in
    * the registry BEFORE the transform — otherwise the broadcast cross
    * join silently emits zero rows and the landing looks successful.
    * Bounded: reads at most 2 rows of a keyed registry lookup. */
  def requireFunder(funders: DataFrame, funderId: Long): DataFrame = {
    val f = funders.filter(col("funder_id") === funderId)
      .select("funder_id", "display_name", "ror_id", "doi")
    val n = f.limit(2).count()
    require(n == 1L,
      s"funder $funderId: expected exactly 1 registry row, found $n — " +
        "STOP, the funder is missing from (or duplicated in) the registry")
    f
  }

  /** Fail-fast for a MULTI-funder lookup (the resolved archetype's
    * `funder_lookup` CTE): every id in `funderIds` must be present
    * exactly once — a missing row would silently drop that funder's
    * whole slice at the inner join (NIH runbook §1.6). Bounded: the
    * driver-side check reads at most `funderIds.size` keyed rows. */
  def requireFunders(funders: DataFrame, funderIds: Seq[Long]): DataFrame = {
    val f = funders.filter(col("funder_id").isin(funderIds: _*))
      .select("funder_id", "display_name", "ror_id", "doi")
    val counts = f.groupBy(col("funder_id")).count().collect()
    val dup = counts.filter(_.getLong(1) > 1).map(_.getLong(0)).sorted
    val missing =
      (funderIds.toSet -- counts.map(_.getLong(0)).toSet).toSeq.sorted
    require(dup.isEmpty && missing.isEmpty,
      s"funder registry precheck failed — missing: ${missing.mkString(",")}" +
        s"; duplicated: ${dup.mkString(",")} — STOP, a missing row would " +
        "silently drop that funder's awards at the lookup join")
    f
  }

  /** An inline funder lookup for sources whose notebooks do NOT trust
    * the registry dim (CORDIS runbook §1.6 Path B: the HORIZON EUROPE
    * sub-body funders may be absent from it, and a missing dim row
    * would silently drop every routed project). Rows are
    * (funder_id, display_name, ror_id, doi) literals from the
    * notebook's VALUES block. */
  def inlineFunders(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[(Long, String, Option[String], String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, dn, ror, doi) => (id, dn, ror.orNull, doi) }
      .toDF("funder_id", "display_name", "ror_id", "doi")
  }

  /** The Step-2 transform (cell 10/7/11's `awards_transformed`). */
  def transform(raw: DataFrame, funders: DataFrame, cfg: FunderIngestConfig,
      nowTs: Column, mintId: Column => Column = defaultMint): DataFrame = {
    val f = requireFunder(funders, cfg.funderId)
      .select(col("funder_id").as("__fid"), col("display_name").as("__fdn"),
        col("ror_id").as("__fror"), col("doi").as("__fdoi"))
    projectAward(raw.filter(cfg.fields.rowFilter).crossJoin(broadcast(f)),
      cfg.fields, nowTs, mintId)
  }

  /** The resolved multi-funder Step-2 transform (NIH cell 5 / GTR
    * cell 6 / ERC cell 7): per-row funder resolution, then a
    * BROADCAST inner join against the bounded funder lookup
    * (registry-backed via [[requireFunders]] or notebook-inline via
    * [[inlineFunders]]). Rows whose resolution is NULL are dropped
    * before the join. Still one narrow projection + one broadcast
    * join — zero shuffles at any corpus size. */
  def transformResolved(raw: DataFrame, funderLookup: DataFrame,
      cfg: ResolvedFunderIngestConfig, nowTs: Column,
      mintId: Column => Column = defaultMint): DataFrame = {
    val lk = funderLookup.select(col("funder_id").as("__fid"),
      col("display_name").as("__fdn"), col("ror_id").as("__fror"),
      col("doi").as("__fdoi"))
    val joined = raw.filter(cfg.fields.rowFilter)
      .withColumn("__rfid", cfg.resolvedFunderId)
      .filter(col("__rfid").isNotNull)
      .join(broadcast(lk), col("__rfid") === col("__fid"))
      .drop("__rfid")
    projectAward(joined, cfg.fields, nowTs, mintId)
  }

  /** The shared award projection over a frame that has the raw
    * columns plus the bound funder row (`__fid/__fdn/__fror/__fdoi`). */
  private def projectAward(joined: DataFrame, cfg: AwardFieldMap,
      nowTs: Column, mintId: Column => Column): DataFrame = {
    val mint = mintId(concat(col("__fid").cast("string"), lit(":"),
      cfg.mintKey))
    joined
      .select(
        mint.as("id"),
        cfg.displayName.as("display_name"),
        cfg.description.as("description"),
        col("__fid").as("funder_id"),
        cfg.funderAwardId.as("funder_award_id"),
        cfg.amount.as("amount"),
        cfg.currency.as("currency"),
        struct(
          concat(lit("https://openalex.org/F"), col("__fid").cast("string"))
            .as("id"),
          col("__fdn").as("display_name"),
          col("__fror").as("ror_id"),
          col("__fdoi").as("doi")).as("funder"),
        cfg.fundingType.as("funding_type"),
        cfg.funderScheme.as("funder_scheme"),
        lit(cfg.provenance).as("provenance"),
        cfg.startDate.as("start_date"),
        cfg.endDate.as("end_date"),
        cfg.startYear.cast("int").as("start_year"),
        cfg.endYear.cast("int").as("end_year"),
        cfg.leadInvestigator.as("lead_investigator"),
        cfg.coLeadInvestigator.as("co_lead_investigator"),
        cfg.investigators.as("investigators"),
        cfg.landingPageUrl.as("landing_page_url"),
        cfg.doi.as("doi"),
        cfg.worksApiUrl.getOrElse(
          concat(lit("https://api.openalex.org/works?filter=awards.id:G"),
            mint.cast("string"))).as("works_api_url"),
        nowTs.as("created_date"),
        nowTs.as("updated_date"))
  }

  /** Step 3: replace the funder's (provenance, priority) slice of the
    * shared raw landing (DELETE + INSERT in the reference). */
  def landRaw(rawLanding: DataFrame, transformed: DataFrame,
      cfg: FunderIngestShape): DataFrame =
    WorkFunders.insertAwardsToRaw(rawLanding,
      transformed.drop("provenance"), cfg.fields.provenance,
      cfg.fields.priority, keep = lit(true))

  /** The additive FY-extension append (CreateDODAwards cells 10-11):
    * extension rows whose (lowercased) funder_award_id the primary
    * corpus already carries are dropped, the rest union on. Both
    * sides are single-funder corpora, so the anti join is a bounded
    * keyed shuffle (or a broadcast when the primary is small). */
  def appendFyExtension(primary: DataFrame, extension: DataFrame): DataFrame = {
    val existing = primary.select(lower(col("funder_award_id")).as("__fk"))
      .distinct()
    primary.unionByName(
      extension.join(existing,
        lower(extension.col("funder_award_id")) === existing.col("__fk"),
        "left_anti"))
  }

  private def pctOfTotal(c: Column): Column =
    round(try_divide(c, count(lit(1))) * 100.0, 1)

  /** The §6.3 data completeness aggregates, `total` first. */
  private def completenessAggs: Seq[Column] =
    Seq(
      count(lit(1)).as("total"),
      count(col("display_name")).as("has_title"),
      count(col("description")).as("has_description"),
      count(col("amount")).as("has_amount"),
      count(col("start_date")).as("has_start_date"),
      count(col("end_date")).as("has_end_date"),
      count(col("landing_page_url")).as("has_url"),
      count(col("lead_investigator")).as("has_pi"),
      sum(col("amount")).as("total_funding"),
      pctOfTotal(count(col("amount"))).as("pct_with_amount"),
      pctOfTotal(count(col("start_date"))).as("pct_with_start_date"),
      pctOfTotal(count(col("description"))).as("pct_description"))

  /** The §6.7 amount/currency aggregates beyond `total`; `currencies`
    * is sorted so the report is deterministic. */
  private def amountAggs: Seq[Column] = {
    val nonzero = sum(when(col("amount") > 0, 1).otherwise(0))
    Seq(
      nonzero.as("has_amount_nonzero"),
      pctOfTotal(nonzero).as("pct_amount"),
      countDistinct(col("currency")).as("distinct_currencies"),
      sort_array(collect_set(col("currency"))).as("currencies"),
      round(min(col("amount")), 0).as("min_amt"),
      round(max(col("amount")), 0).as("max_amt"),
      round(avg(when(col("amount") > 0, col("amount"))), 0)
        .as("avg_nonzero_amt"))
  }

  /** §6.3 data completeness. */
  def completenessReport(awards: DataFrame): DataFrame =
    awards.agg(completenessAggs.head, completenessAggs.tail: _*)

  /** §6.7 amount/currency fail-fast (mandatory for monetary sources). */
  def amountCheck(awards: DataFrame): DataFrame =
    awards.agg(count(lit(1)).as("total"), amountAggs: _*)

  /** Both verification reports for EVERY (provenance, priority) slice
    * of a landed table in ONE keyed aggregation pass (the reference
    * runs §6.3 and §6.7 as two separate scans per funder notebook;
    * grouped-by-slice there is no single-partition exchange and the
    * landing scans once). */
  def sliceReports(landed: DataFrame): DataFrame =
    landed.groupBy(col("provenance"), col("priority"))
      .agg(completenessAggs.head, completenessAggs.tail ++ amountAggs: _*)
      .withColumn("slice", concat(col("provenance"), lit(":"),
        col("priority").cast("string")))
      .drop("provenance", "priority")

  // ---- the three pattern-representative configs ----

  /** USAspending federal grants (CreateACFAwards.ipynb cell 10; the
    * column set is stable across all federal subtier funders). The
    * reference's assistance_type_code CASE maps every code (02 block /
    * 03 formula / 04 project / 05 cooperative) AND the fallback to
    * 'grant' — kept as the constant it collapses to. */
  def usaSpending(funderId: Long, provenance: String,
      priority: Int): FunderIngestConfig = {
    val title = coalesce(col("prime_award_base_transaction_description"),
      col("transaction_description"))
    FunderIngestConfig(funderId, AwardFieldMap(
      provenance = provenance, priority = priority,
      mintKey = lower(col("award_id_fain")),
      funderAwardId = col("award_id_fain"),
      displayName = title, description = title,
      amount = col("total_obligated_amount").try_cast("double"),
      currency = lit("USD"),
      fundingType = lit("grant"),
      funderScheme = col("cfda_title"),
      startDate = d(col("period_of_performance_start_date")),
      endDate = d(col("period_of_performance_current_end_date")),
      startYear = year(d(col("period_of_performance_start_date"))),
      endYear = year(d(col("period_of_performance_current_end_date"))),
      landingPageUrl = col("usaspending_permalink"),
      rowFilter = col("award_id_fain").isNotNull &&
        trim(col("award_id_fain")) =!= ""))
  }

  /** ANR open-data grants (CreateANRAwards.ipynb cell 7): the
    * scheme→funding_type LIKE cascade, ORCID URL normalization, the
    * RNSR-coded affiliation id, start_year falling back to the call's
    * edition year, no end dates in the source. */
  def anr: FunderIngestConfig = {
    val fundingType = likeCascade(lower(col("funding_program")), Seq(
      "jcjc" -> "fellowship", "jeunes%chercheur" -> "fellowship",
      "chaire" -> "fellowship", "postdoc" -> "fellowship",
      "equipex" -> "infrastructure", "labex" -> "infrastructure",
      "infrastruct" -> "infrastructure", "idex" -> "infrastructure",
      "formation" -> "training", "astrid" -> "research",
      "blanc" -> "research", "aapg" -> "research"), "grant")
    val orcid = when(col("pi_orcid").isNotNull && col("pi_orcid") =!= "",
      when(col("pi_orcid").like("https://orcid.org/%"), col("pi_orcid"))
        .otherwise(concat(lit("https://orcid.org/"), col("pi_orcid"))))
    val rnsrIds = when(col("rnsr_code").isNotNull,
      array(struct(col("rnsr_code").as("id"), lit("rnsr").as("type"),
        lit("anr").as("asserted_by"))))
      .otherwise(lit(null).cast(affIds))
    val lead = when(col("pi_family_name").isNotNull,
      investigator(col("pi_given_name"), col("pi_family_name"),
        col("institution"), coalesce(col("country"), lit("France")),
        orcid = orcid, ids = rnsrIds))
    val sd = d(col("start_date"))
    FunderIngestConfig(4320320883L, AwardFieldMap(
      provenance = "anr_opendata", priority = 6,
      mintKey = lower(col("project_id")),
      funderAwardId = col("project_id"),
      displayName = col("title"), description = col("abstract"),
      amount = col("amount").try_cast("double"),
      currency = lit("EUR"),
      fundingType = fundingType,
      funderScheme = col("funding_program"),
      startDate = sd,
      startYear = coalesce(year(sd), col("edition_year").try_cast("int")),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://anr.fr/Projet-"),
        col("project_id")),
      rowFilter = col("project_id").isNotNull &&
        trim(col("project_id")) =!= ""))
  }

  /** Abel Prize (CreateAbelPrizeAwards.ipynb cell 11 — the prize
    * pattern): NOK amount by year boundary (6M from 2003, 7.5M from
    * 2019) apportioned by laureate portion; declined-prize
    * descriptions; the laureate as lead investigator; May-1 canonical
    * ceremony date. */
  def abelPrize: FunderIngestConfig = {
    val yearAmount = when(col("year") >= 2019, 7500000.0)
      .when(col("year") >= 2003, 6000000.0)
    val amount = when(col("portion") === "1", yearAmount)
      .when(col("portion") === "1/2", yearAmount * 0.5)
      .when(col("portion") === "1/3", yearAmount / 3.0)
      .when(col("portion") === "1/4", yearAmount * 0.25)
      .otherwise(yearAmount)
    val desc = when(col("declined") && col("citation").isNotNull,
      concat(lit("Declined the prize. "), col("citation")))
      .when(col("declined"), lit("Declined the prize."))
      .otherwise(col("citation"))
    val mayFirst = d(concat(col("year").cast("string"), lit("-05-01")))
    FunderIngestConfig(8651541334L, AwardFieldMap(
      provenance = "abelprize_no", priority = 51,
      mintKey = concat(lit("abel:"), col("slug")),
      funderAwardId = concat(lit("abel-"), col("slug")),
      displayName = concat(lit("Abel Prize "), col("year").cast("string"),
        lit(" — "), col("laureate_name")),
      description = desc,
      amount = amount, currency = lit("NOK"),
      fundingType = lit("prize"), funderScheme = lit("Abel Prize"),
      startDate = mayFirst, endDate = mayFirst,
      startYear = col("year").try_cast("int"),
      endYear = col("year").try_cast("int"),
      leadInvestigator = investigator(col("given_name"),
        col("family_name"), col("institution"), lit(null).cast("string")),
      landingPageUrl = col("source_url"),
      rowFilter = col("slug").isNotNull && col("year").isNotNull))
  }
}
