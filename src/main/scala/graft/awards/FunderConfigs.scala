package graft.awards

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The top-volume per-funder ingest configs, derived from the
  * reference's one-off `Create<Funder>Awards.ipynb` notebooks —
  * constant-for-constant (funder ids, provenances, priorities,
  * scheme→type cascades, date fallbacks, landing URLs).
  *
  * Archetype coverage (the audit of all 338 Create*Awards notebooks;
  * the full table is SURVEY.md §2.11):
  *   - single-funder cross-join  → [[FunderIngest.transform]]
  *     (kaken, dfg, sshrc, snsf, cihr, nsf, dod + the r8 trio)
  *   - resolved multi-funder     → [[FunderIngest.transformResolved]]
  *     (nihExporter, gtrProjects, erc, europeanCommission)
  *   - prize portions            → the abelPrize shape of
  *     [[FunderIngest.transform]]
  */
object FunderConfigs {
  import FunderIngest.{affIds, d, investigator, likeCascade,
    nullInvestigator, nzt}

  // ---------------------------------------------------------------
  // Single-funder cross-join archetype
  // ---------------------------------------------------------------

  /** KAKEN / JSPS Grants-in-Aid (CreateKAKENAwards.ipynb cell 6,
    * ~1M+ projects): JPY amounts, the research-category→type LIKE
    * cascade, the NRID affiliation identifier, landing URL straight
    * from the source row. */
  def kaken: FunderIngestConfig = {
    val cat = lower(col("category"))
    val fundingType = likeCascade(cat, Seq(
      "fellow" -> "fellowship", "young" -> "fellowship",
      "early-career" -> "fellowship", "encouragement" -> "fellowship",
      "start" -> "fellowship", "specially promoted" -> "research",
      "scientific research" -> "research", "challenging" -> "research",
      "transformative" -> "research", "pioneering" -> "research",
      "international" -> "research", "publication" -> "other"), "grant")
    val nridIds = when(col("pi_nrid").isNotNull,
      array(struct(
        concat(lit("https://nrid.nii.ac.jp/nrid/"), col("pi_nrid")).as("id"),
        lit("nrid").as("type"), lit("kaken").as("asserted_by"))))
      .otherwise(lit(null).cast(affIds))
    val lead = when(col("pi_family_name").isNotNull,
      investigator(col("pi_given_name"), col("pi_family_name"),
        coalesce(col("institution"), col("pi_affiliation")), lit("Japan"),
        ids = nridIds))
    FunderIngestConfig(4320334764L, AwardFieldMap(
      provenance = "kaken", priority = 10,
      mintKey = lower(col("project_id")),
      funderAwardId = col("project_id"),
      displayName = col("title"), description = col("abstract"),
      amount = col("amount").try_cast("double"), currency = lit("JPY"),
      fundingType = fundingType, funderScheme = col("category"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("project_id").isNotNull &&
        trim(col("project_id")) =!= ""))
  }

  /** DFG / GEPRIS (CreateDFGAwards.ipynb cell 7, ~144K projects):
    * EUR, the German programme→type cascade, date-or-year-boundary
    * fallbacks, institution-only lead investigator. */
  def dfg: FunderIngestConfig = {
    val prog = lower(col("program_type"))
    val fundingType = likeCascade(prog, Seq(
      "emmy noether" -> "fellowship", "heisenberg" -> "fellowship",
      "walter benjamin" -> "fellowship", "research fellowship" -> "fellowship",
      "stipend" -> "fellowship", "graduiertenkolleg" -> "training",
      "research training" -> "training", "collaborative research" -> "research",
      "sonderforschungsbereich" -> "research",
      "priority programme" -> "research", "schwerpunktprogramm" -> "research",
      "forschergruppe" -> "research", "research unit" -> "research",
      "cluster" -> "research", "excellence" -> "research",
      "infrastructure" -> "infrastructure",
      "equipment" -> "infrastructure"), "grant")
    val sd = coalesce(d(col("start_date")),
      d(concat(col("start_year"), lit("-01-01"))))
    val ed = coalesce(d(col("end_date")),
      d(concat(col("end_year"), lit("-12-31"))))
    val lead = when(col("lead_inst").isNotNull && trim(col("lead_inst")) =!= "",
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("lead_inst"), lit("Germany")))
    FunderIngestConfig(4320320879L, AwardFieldMap(
      provenance = "gepris", priority = 18,
      mintKey = lower(col("project_id")),
      funderAwardId = col("project_id"),
      displayName = col("title"), description = col("description"),
      amount = col("amount").try_cast("double"), currency = lit("EUR"),
      fundingType = fundingType, funderScheme = col("program_type"),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(d(col("start_date"))),
        col("start_year").try_cast("int")),
      endYear = coalesce(year(d(col("end_date"))),
        col("end_year").try_cast("int")),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://gepris.dfg.de/gepris/projekt/"),
        col("project_id")),
      rowFilter = col("project_id").isNotNull &&
        trim(col("project_id").cast("string")) =!= ""))
  }

  /** SSHRC open data (CreateSSHRCAwards.ipynb cell 6, ~114K): CAD,
    * no abstracts, competition-year approximated to April 1 (the
    * fiscal-year start), applicant full name stored in family_name,
    * portal-level landing URL. */
  def sshrc: FunderIngestConfig = {
    val prog = lower(col("program"))
    val fundingType = likeCascade(prog, Seq(
      "doctoral" -> "fellowship", "postdoctoral" -> "fellowship",
      "fellowship" -> "fellowship", "scholarship" -> "fellowship",
      "vanier" -> "fellowship", "banting" -> "fellowship",
      "talent" -> "fellowship", "canada research chair" -> "fellowship",
      "partnership" -> "research", "insight" -> "research",
      "connection" -> "research", "aid" -> "research", "savoir" -> "research",
      "sshrc %grant" -> "grant", "general research" -> "research",
      "major collaborative" -> "research", "standard research" -> "research",
      "strategic" -> "research"), "grant")
    val lead = when(col("applicant_name").isNotNull &&
        trim(col("applicant_name")) =!= "",
      investigator(lit(null).cast("string"), trim(col("applicant_name")),
        trim(col("institution")), lit("Canada")))
    FunderIngestConfig(4320334617L, AwardFieldMap(
      provenance = "sshrc_opendata", priority = 5,
      mintKey = lower(trim(col("file_number"))),
      funderAwardId = trim(col("file_number")),
      displayName = col("title"),
      amount = col("amount").try_cast("double"), currency = lit("CAD"),
      fundingType = fundingType, funderScheme = col("program"),
      startDate = when(col("start_year").isNotNull,
        d(concat(col("start_year").try_cast("int").cast("string"),
          lit("-04-01")))),
      startYear = col("start_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = lit("https://open.canada.ca/data/en/dataset/" +
        "b4e2b302-9bc6-4b33-b880-6496f8cef0f1"),
      rowFilter = col("file_number").isNotNull &&
        trim(col("file_number")) =!= ""))
  }

  /** SNSF Data Portal (CreateSNSFAwards.ipynb cell 6, ~90K): CHF,
    * English-preferred titles/summaries, the funding-instrument
    * two-level type cascade, last-space PI name split. */
  def snsf: FunderIngestConfig = {
    val l1 = lower(col("funding_instrument_level1"))
    val fi = lower(col("funding_instrument"))
    val fundingType =
      when(l1.like("%careers%"), "fellowship")
        .when(fi.like("%fellowship%"), "fellowship")
        .when(fi.like("%professorship%"), "fellowship")
        .when(fi.like("%postdoc%"), "fellowship")
        .when(fi.like("%doc.ch%"), "fellowship")
        .when(fi.like("%ambizione%"), "fellowship")
        .when(fi.like("%prima%"), "fellowship")
        .when(fi.like("%eccellenza%"), "fellowship")
        .when(l1.like("%infrastructure%"), "infrastructure")
        .when(l1.like("%programmes%"), "research")
        .when(l1.like("%project funding%"), "research")
        .when(fi.like("%nccr%"), "research")
        .when(fi.like("%sinergia%"), "research")
        .when(fi.like("%project%"), "research")
        .otherwise("grant")
    // last-space split of the single responsible_applicant string:
    // given = everything before the LAST space, family = the last
    // token (single-token names land whole in family_name)
    val nm = trim(col("responsible_applicant"))
    val hasSpace = instr(nm, " ") > 0
    val given = when(hasSpace,
      trim(regexp_extract(nm, "^(.*)\\s+\\S+$", 1)))
    val family = when(hasSpace, regexp_extract(nm, "(\\S+)$", 1))
      .otherwise(col("responsible_applicant"))
    val lead = when(col("responsible_applicant").isNotNull && nm =!= "",
      investigator(given, family,
        coalesce(col("research_institution"), col("institute")),
        coalesce(col("institute_country"), lit("Switzerland"))))
    FunderIngestConfig(4320320924L, AwardFieldMap(
      provenance = "snsf", priority = 14,
      mintKey = lower(col("grant_number")),
      funderAwardId = col("grant_number"),
      displayName = coalesce(col("title_english"), col("title")),
      description = coalesce(col("lay_summary_en"), col("abstract")),
      amount = col("amount").try_cast("double"), currency = lit("CHF"),
      fundingType = fundingType, funderScheme = col("funding_instrument"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://data.snf.ch/grants/grant/"),
        col("grant_number")),
      rowFilter = col("grant_number").isNotNull &&
        trim(col("grant_number")) =!= ""))
  }

  /** CIHR open data (CreateCIHRAwards.ipynb cell 7, ~82K): CAD,
    * program_type award-screen before the program_name cascade,
    * structured PI names with role_start = funding start. */
  def cihr: FunderIngestConfig = {
    val pt = lower(col("program_type"))
    val pn = lower(col("program_name"))
    val fundingType =
      when(pt.like("%award%"), "fellowship")
        .when(pn.like("%doctoral%"), "fellowship")
        .when(pn.like("%postdoctoral%"), "fellowship")
        .when(pn.like("%fellowship%"), "fellowship")
        .when(pn.like("%scholarship%"), "fellowship")
        .when(pn.like("%master%"), "fellowship")
        .when(pn.like("%vanier%"), "fellowship")
        .when(pn.like("%banting%"), "fellowship")
        .when(pn.like("%canada research chair%"), "fellowship")
        .when(pn.like("%salary%"), "fellowship")
        .when(pn.like("%new investigator%"), "fellowship")
        .when(pn.like("%career%"), "fellowship")
        .when(pn.like("%travel%"), "travel")
        .when(pn.like("%meeting%"), "travel")
        .when(pn.like("%planning%"), "planning")
        .when(pn.like("%operating grant%"), "research")
        .when(pn.like("%project grant%"), "research")
        .when(pn.like("%team grant%"), "research")
        .when(pn.like("%foundation grant%"), "research")
        .when(pn.like("%bridge%"), "research")
        .when(pn.like("%catalyst%"), "research")
        .when(pn.like("%randomized controlled%"), "research")
        .when(pt.like("%grant%"), "grant")
        .otherwise("grant")
    // TRY_TO_DATE with no pattern = a plain date cast
    val sd = col("funding_start_date").try_cast("date")
    val lead = when(col("family_name").isNotNull &&
        trim(col("family_name")) =!= "",
      investigator(trim(col("first_name")), trim(col("family_name")),
        trim(col("research_institution_name")), lit("Canada"), roleStart = sd))
    FunderIngestConfig(4320334506L, AwardFieldMap(
      provenance = "cihr_opendata", priority = 7,
      mintKey = lower(trim(col("funding_reference_number"))),
      funderAwardId = trim(col("funding_reference_number")),
      displayName = col("application_title"),
      description = col("application_abstract"),
      amount = col("total_amount_awarded").try_cast("double"),
      currency = lit("CAD"),
      fundingType = fundingType, funderScheme = col("program_name"),
      startDate = sd,
      endDate = col("funding_end_date").try_cast("date"),
      startYear = year(sd),
      endYear = year(col("funding_end_date").try_cast("date")),
      leadInvestigator = lead,
      landingPageUrl = lit("https://open.canada.ca/data/en/dataset/" +
        "49edb1d7-5cb4-4fa7-897c-515d1aad5da3"),
      rowFilter = col("funding_reference_number").isNotNull &&
        trim(col("funding_reference_number")) =!= ""))
  }

  /** NSF Award Search (CreateNSFAwards.ipynb cell 8, 1960-present):
    * USD, instrument-text type cascade, lowered award id. The
    * notebook resolves the registry row by ROR
    * (https://ror.org/021nxhr62); the id it resolves to is the
    * constant below, which the registry precheck re-asserts. */
  def nsf: FunderIngestConfig = {
    val instr = lower(col("awd_istr_txt"))
    val fundingType = likeCascade(instr, Seq(
      "fellowship" -> "fellowship", "cooperative" -> "cooperative_agreement",
      "contract" -> "contract", "continuing" -> "grant",
      "standard" -> "grant"), "grant")
    val lead = when(col("pi_last_name").isNotNull,
      investigator(col("pi_first_name"), col("pi_last_name"), col("inst_name"),
        col("inst_country_name")))
    FunderIngestConfig(4320306076L, AwardFieldMap(
      provenance = "nsf_award_search", priority = 3,
      mintKey = lower(col("awd_id")),
      funderAwardId = lower(col("awd_id")),
      displayName = col("awd_titl_txt"),
      description = col("awd_abstract_narration"),
      amount = col("awd_amount").try_cast("double"), currency = lit("USD"),
      fundingType = fundingType, funderScheme = col("awd_istr_txt"),
      startDate = d(col("awd_eff_date")), endDate = d(col("awd_exp_date")),
      startYear = year(d(col("awd_eff_date"))),
      endYear = year(d(col("awd_exp_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(
        lit("https://www.nsf.gov/awardsearch/showAward?AWD_ID="),
        col("awd_id")),
      rowFilter = col("awd_id").isNotNull && trim(col("awd_id")) =!= ""))
  }

  /** DOD via USAspending (CreateDODAwards.ipynb cell 8, ~78K): the
    * exact federal-bulk archetype at DOD's slice —
    * `usaSpending(4320306078, "usaspending", 26)`. The FY-extension
    * leg (cells 10-11) reuses this config over the extension raw
    * filtered to grant types 02-05, then
    * [[FunderIngest.appendFyExtension]] anti-joins it on. */
  def dod: FunderIngestConfig =
    FunderIngest.usaSpending(4320306078L, "usaspending", 26)

  /** The FY-extension raw screen (CreateDODAwards cell 10's
    * `assistance_type_code IN ('02','03','04','05')`). */
  def dodFyExtensionFilter: Column =
    col("assistance_type_code").isin("02", "03", "04", "05")

  /** EVERY USAspending federal subtier config — one per
    * `Create<Agency>Awards.ipynb` in the family
    * (CreateACFAwards.ipynb, CreateACLAwards.ipynb,
    * CreateAHRQAwards.ipynb, CreateCDCAwards.ipynb,
    * CreateDODAwards.ipynb, CreateDOEAwards.ipynb,
    * CreateEPAAwards.ipynb, CreateFDAAwards.ipynb,
    * CreateNASAAwards.ipynb, CreateNISTAwards.ipynb,
    * CreateNOAAAwards.ipynb, CreateUSAIDAwards.ipynb,
    * CreateUSDAAwards.ipynb, CreateUSGSAwards.ipynb), (funder_id,
    * provenance, priority) transcribed from each notebook's funder
    * CTE + landing INSERT. Audited r9: each notebook's transform
    * is the shared archetype verbatim modulo the amount TRY_CAST
    * (which this config uses) and non-landed recipient passthrough
    * columns (the INSERT takes only the 24 shared columns). The
    * DOD/DOE/NASA trio shares the bare `usaspending` provenance and
    * deletes its slice by (provenance, funder_id). */
  val usaSpendingRegistry: Map[String, FunderIngestConfig] = Map(
    "acf" -> FunderIngest.usaSpending(4320332208L, "usaspending_acf", 233),
    "acl" -> FunderIngest.usaSpending(4320332398L, "usaspending_acl", 235),
    "ahrq" -> FunderIngest.usaSpending(4320332177L, "usaspending_ahrq", 54),
    "cdc" -> FunderIngest.usaSpending(4320332162L, "usaspending_cdc", 55),
    "dod" -> FunderIngest.usaSpending(4320306078L, "usaspending", 26),
    "doe" -> FunderIngest.usaSpending(4320306084L, "usaspending", 25),
    "epa" -> FunderIngest.usaSpending(4320306107L, "usaspending_epa", 53),
    "fda" -> FunderIngest.usaSpending(4320332163L, "usaspending_fda", 56),
    "nasa" -> FunderIngest.usaSpending(4320306101L, "usaspending", 23),
    "nist" -> FunderIngest.usaSpending(4320332178L, "usaspending_nist", 60),
    "noaa" -> FunderIngest.usaSpending(4320332181L, "usaspending_noaa", 88),
    "usaid" -> FunderIngest.usaSpending(4320306115L, "usaspending_usaid",
      75),
    "usda" -> FunderIngest.usaSpending(4320306114L, "usaspending_usda", 58),
    "usgs" -> FunderIngest.usaSpending(4320332183L, "usaspending_usgs", 59))

  // ---------------------------------------------------------------
  // Resolved multi-funder archetype
  // ---------------------------------------------------------------

  /** NIH ExPORTER's administering_ic → real-funder map
    * (CreateNIHAwards.ipynb cell 5's ic_funder_map VALUES, verbatim):
    * RePORTER is the shared HHS grants system, so the bulk download
    * bundles CDC/FDA/SAMHSA/HRSA/AHRQ/ATSDR/IHS/ACF/ONC + VA grants;
    * unmapped codes (incl. the ambiguous AD/MN/FP) default to NIH. */
  val nihIcFunderMap: Map[String, Long] = {
    val fda = Seq("FD", "BK", "BJ", "BA", "BN", "BB", "BQ", "BR", "BD",
      "BL", "BI", "BM", "BF", "BO", "BH", "BG", "BE", "BS", "BT", "BU")
    val cdc = Seq("PS", "DP", "CE", "GH", "DD", "IP", "EH", "CI", "TP",
      "CK", "CD", "SO", "HM", "EP", "GD", "SH", "PH", "PR", "WC", "HK",
      "CC")
    val hrsa = Seq("PE", "NU", "MB", "AH", "DH", "BP", "NC", "HP")
    (Seq("VA" -> 4320306127L, "HS" -> 4320332177L,
      "SU" -> 4320332164L, "SP" -> 4320332164L, "SM" -> 4320332164L,
      "TI" -> 4320332164L,
      "OH" -> 4320337382L, "TS" -> 4320337419L, "IS" -> 4320332207L,
      "AF" -> 4320332208L, "OC" -> 4320332334L) ++
      fda.map(_ -> 4320332163L) ++ cdc.map(_ -> 4320332162L) ++
      hrsa.map(_ -> 4320332175L)).toMap
  }

  /** The NIH default + every agency the ic map can resolve to —
    * the funder_lookup allow-list for [[FunderIngest.requireFunders]]. */
  val nihFunderIds: Seq[Long] =
    (nihIcFunderMap.values.toSet + 4320332161L).toSeq.sorted

  /** NIH ExPORTER (CreateNIHAwards.ipynb cell 5, ~2.28M awards):
    * the resolved multi-funder archetype — administering_ic resolves
    * the REAL funder (default NIH 4320332161), the activity-code
    * prefix drives the type, PI names parse from the
    * "LASTNAME, FIRSTNAME (contact); ..." list, and dates try three
    * formats. The ic map is a literal-map projection (no join needed
    * for resolution — only the funder lookup joins, broadcast). */
  def nihExporter: ResolvedFunderIngestConfig = {
    val resolved = coalesce(
      element_at(typedlit(nihIcFunderMap),
        upper(trim(col("administering_ic")))),
      lit(4320332161L))
    val act = col("activity")
    val fundingType =
      when(act.like("R%"), "research")
        .when(act.like("K%"), "career_development")
        .when(act.like("T%"), "training")
        .when(act.like("F%"), "fellowship")
        .when(act.like("P%"), "program")
        .when(act.like("U%"), "cooperative_agreement")
        .when(act.like("N%"), "contract")
        .when(act.like("Z%"), "intramural")
        .otherwise("grant")
    def tryDates(c: Column): Column = coalesce(
      to_date(try_to_timestamp(c, lit("yyyy-MM-dd"))),
      to_date(try_to_timestamp(c, lit("MM/dd/yyyy"))),
      to_date(try_to_timestamp(c, lit("M/d/yyyy"))))
    // first PI = the slice before the first semicolon; names arrive
    // as "LASTNAME, FIRSTNAME (contact)"
    val firstPi = when(col("pi_names").isNotNull && col("pi_names") =!= "",
      trim(element_at(split(col("pi_names"), ";"), 1)))
    val hasComma = firstPi.contains(",")
    val given = when(hasComma,
      trim(regexp_replace(element_at(split(firstPi, ","), 2),
        "\\s*\\(.*\\)\\s*", "")))
    val family = when(hasComma, trim(element_at(split(firstPi, ","), 1)))
      .otherwise(trim(firstPi))
    val lead = when(firstPi.isNotNull,
      investigator(given, family, col("org_name"), col("org_country")))
    ResolvedFunderIngestConfig(resolved, AwardFieldMap(
      provenance = "nih_exporter", priority = 3,
      mintKey = lower(col("full_project_num")),
      funderAwardId = lower(col("full_project_num")),
      displayName = col("project_title"),
      description = col("phr"),
      amount = col("total_cost").try_cast("double"), currency = lit("USD"),
      fundingType = fundingType, funderScheme = col("activity"),
      startDate = tryDates(col("project_start")),
      endDate = tryDates(col("project_end")),
      startYear = year(tryDates(col("project_start"))),
      endYear = year(tryDates(col("project_end"))),
      leadInvestigator = lead,
      landingPageUrl = concat(
        lit("https://reporter.nih.gov/project-details/"),
        col("application_id")),
      rowFilter = col("full_project_num").isNotNull &&
        trim(col("full_project_num")) =!= ""))
  }

  /** GTR's grant-reference prefix → council map
    * (CreateGTRProjectAwards.ipynb cell 6's prefix_to_funder —
    * explicit ids avoid the alternate-title collisions the notebook
    * documents, e.g. "NERC" matching Sight Research UK). */
  val gtrPrefixFunderMap: Map[String, Long] = Map(
    "EP/" -> 4320334627L, "MR/" -> 4320334626L, "ST/" -> 4320334632L,
    "BB/" -> 4320334629L, "NE/" -> 4320334631L, "ES/" -> 4320334630L,
    "AH/" -> 4320334609L)

  /** The council names whose appearance in lead_funder means
    * "standard council grant, no special programme" (cell 6's
    * council_names) — anything else in lead_funder IS the programme. */
  val gtrCouncilNames: Seq[String] = Seq(
    "AHRC", "BBSRC", "EPSRC", "ESRC", "MRC", "NERC", "STFC", "Innovate UK",
    "Arts and Humanities Research Council",
    "Biotechnology and Biological Sciences Research Council",
    "Engineering and Physical Sciences Research Council",
    "Economic and Social Research Council",
    "Medical Research Council",
    "Natural Environment Research Council",
    "Science and Technology Facilities Council")

  val gtrFunderIds: Seq[Long] = Seq(4320334609L, 4320334629L, 4320334627L,
    4320334630L, 4320334626L, 4320334631L, 4320334632L, 4320335087L)

  /** UKRI Gateway to Research (CreateGTRProjectAwards.ipynb cell 6,
    * ~171K): grant-reference prefix resolves the council, falling
    * back to a lead_funder LIKE cascade; unresolved rows drop. GBP.
    * GTR carries draft records pre-dated to 2028+, so start/end
    * years null out when the start is more than one year past
    * `currentYear` — injected, the repo's no-wall-clock convention
    * (the reference reads current_date()). Lands at priority 30;
    * the notebook's DELETE clears both the 0 and 30 slices. */
  def gtrProjects(currentYear: Int): ResolvedFunderIngestConfig = {
    val ref = col("grant_reference")
    val prefix = when(ref.isNotNull && length(ref) >= 3,
      concat(substring(ref, 1, 2), lit("/")))
    val lf = col("lead_funder")
    val resolved = coalesce(
      element_at(typedlit(gtrPrefixFunderMap), prefix),
      when(lf === "Innovate UK", 4320335087L)
        .when(lf.like("%EPSRC%"), 4320334627L)
        .when(lf.like("%MRC%"), 4320334626L)
        .when(lf.like("%BBSRC%"), 4320334629L)
        .when(lf.like("%NERC%"), 4320334631L)
        .when(lf.like("%ESRC%"), 4320334630L)
        .when(lf.like("%AHRC%"), 4320334609L)
        .when(lf.like("%STFC%"), 4320334632L))
    val cat = col("grant_category")
    val fundingType =
      when(cat === "Research Grant", "research")
        .when(cat === "Fellowship", "fellowship")
        .when(cat === "Training Grant", "training")
        .when(cat === "Studentship", "studentship")
        .when(cat === "Vouchers", "voucher")
        .when(cat.isNull, lit(null).cast("string"))
        .otherwise(lower(regexp_replace(cat, " ", "_")))
    val programme = when(lf.isin(gtrCouncilNames: _*),
      lit(null).cast("string")).otherwise(lf)
    val futureDated = year(col("start_date")) > currentYear + 1
    val lead = when(col("pi_family_name").isNotNull,
      investigator(col("pi_given_name"), col("pi_family_name"),
        col("lead_org_name"), lit("United Kingdom")))
    ResolvedFunderIngestConfig(resolved, AwardFieldMap(
      provenance = "gateway_to_research", priority = 30,
      mintKey = lower(ref),
      funderAwardId = ref,
      displayName = col("title"), description = col("abstract"),
      amount = col("amount").try_cast("double"), currency = lit("GBP"),
      fundingType = fundingType, funderScheme = programme,
      startDate = col("start_date").cast("date"),
      endDate = col("end_date").cast("date"),
      startYear = when(futureDated, lit(null).cast("int"))
        .otherwise(year(col("start_date"))),
      endYear = when(futureDated, lit(null).cast("int"))
        .otherwise(year(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://gtr.ukri.org/projects?ref="),
        ref),
      rowFilter = ref.isNotNull))
  }

  /** The ERC inline funder lookup (CreateERCAwards.ipynb cell 7's
    * erc_funders VALUES + the COALESCE main-funder defaults): one
    * framework-specific sub-funder per programme, the generic ERC
    * funder for anything unmapped; ror_id is the single ERC ROR for
    * all four. */
  def ercFunderLookup(spark: SparkSession): DataFrame =
    FunderIngest.inlineFunders(spark, Seq(
      (4320334678L, "European Research Council",
        Some("https://ror.org/0472cxd90"), "10.13039/501100000781"),
      (4320338335L, "H2020 European Research Council",
        Some("https://ror.org/0472cxd90"), "10.13039/100010663"),
      (4320338352L, "FP7 Ideas: European Research Council",
        Some("https://ror.org/0472cxd90"), "10.13039/100011199"),
      (4320338453L, "HORIZON EUROPE European Research Council",
        Some("https://ror.org/0472cxd90"), "10.13039/100019180")))

  /** ERC via CORDIS (CreateERCAwards.ipynb cell 7): framework
    * programme resolves the sub-funder (H2020 / FP7 / HORIZON),
    * default the generic ERC funder; EUR amounts arrive with comma
    * decimal separators; grant-type suffixes drive the type. */
  def erc: ResolvedFunderIngestConfig = {
    val resolved = coalesce(
      element_at(typedlit(Map(
        "H2020" -> 4320338335L, "FP7" -> 4320338352L,
        "HORIZON" -> 4320338453L)), col("framework_programme")),
      lit(4320334678L))
    val fs = upper(col("funding_scheme"))
    val fundingType = likeCascade(fs, Seq(
      "STG" -> "fellowship", "COG" -> "fellowship", "ADG" -> "fellowship",
      "SYG" -> "research", "POC" -> "commercialization",
      "LVG" -> "travel"), "research")
    val lead = when(col("host_institution").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("host_institution"), col("host_country")))
    ResolvedFunderIngestConfig(resolved, AwardFieldMap(
      provenance = "erc", priority = 21,
      mintKey = lower(col("project_id")),
      funderAwardId = col("project_id"),
      displayName = col("title"), description = col("abstract"),
      amount = regexp_replace(col("ec_contribution"), ",", ".")
        .try_cast("double"),
      currency = lit("EUR"),
      fundingType = fundingType, funderScheme = col("funding_scheme"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://cordis.europa.eu/project/id/"),
        col("project_id")),
      doi = when(col("grant_doi").isNotNull && trim(col("grant_doi")) =!= "",
        col("grant_doi")),
      rowFilter = col("project_id").isNotNull &&
        trim(col("project_id")) =!= ""))
  }

  /** Gates Foundation committed grants (CreateGatesAwards.ipynb
    * cell 6, ~40K, priority 4): grants carry no titles, so the
    * display name assembles grantee + truncated purpose; recipients
    * are organizations, stored in the lead affiliation slot (the
    * pattern GrantConnect later cites as precedent). */
  def gates: FunderIngestConfig = {
    val topic = lower(col("topic"))
    val purpose = when(length(col("purpose")) > 150,
      concat(substring(col("purpose"), 1, 147), lit("...")))
      .otherwise(col("purpose"))
    val lead = when(col("grantee_name").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("grantee_name"), col("grantee_country")))
    FunderIngestConfig(4320306137L, AwardFieldMap(
      provenance = "gates_foundation",
      priority = 4,
      mintKey = lower(col("grant_id")),
      funderAwardId = col("grant_id"),
      displayName = concat(col("grantee_name"), lit(" - "), purpose),
      description = col("purpose"),
      amount = col("amount").try_cast("double"), currency = lit("USD"),
      fundingType = when(topic.like("%fellowship%"), "fellowship")
        .when(topic.like("%scholarship%"), "fellowship")
        .when(topic.like("%training%"), "training")
        .when(topic.like("%research%"), "research")
        .when(topic.like("%discovery%"), "research")
        .when(topic.like("%translational%"), "research")
        .when(lower(col("division")).like("%global health%"), "research")
        .when(topic.like("%education%"), "training")
        .when(topic.like("%infrastructure%"), "infrastructure")
        .otherwise("grant"),
      funderScheme = col("division"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(
        lit("https://www.gatesfoundation.org/about/committed-grants?q="),
        col("grant_id")),
      rowFilter = col("grant_id").isNotNull && trim(col("grant_id")) =!= ""))
  }

  /** BMBF / Förderkatalog (CreateBMBFAwards.ipynb cell 8, ~46K,
    * priority 36): German foerderart→type cascade, currency from the
    * source with a EUR default, future-dated year nulling (the
    * catalog stamps out-year placeholders on nuclear-decommissioning
    * projects) against the injected `currentYear`, recipient-org
    * lead with a Germany default country. */
  def bmbf(currentYear: Int): FunderIngestConfig = {
    val fa = lower(col("foerderart"))
    val sd = d(col("start_date"))
    val futureDated = year(sd) > currentYear + 1
    val lead = when(col("zuwendungsempfaenger").isNotNull &&
        trim(col("zuwendungsempfaenger")) =!= "",
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("zuwendungsempfaenger"), coalesce(col("staat"), lit("Germany"))))
    FunderIngestConfig(4320321114L, AwardFieldMap(
      provenance = "foerderkatalog",
      priority = 36,
      mintKey = lower(col("fkz")),
      funderAwardId = col("fkz"),
      displayName = col("title"),
      amount = col("amount").try_cast("double"),
      currency = coalesce(col("currency"), lit("EUR")),
      fundingType = likeCascade(fa, Seq(
        "stipend" -> "fellowship", "ausbildung" -> "training",
        "infrastruktur" -> "infrastructure", "zuwendung" -> "grant",
        "zuschuss" -> "grant", "darlehen" -> "grant"), "grant"),
      funderScheme = col("foerderprofil"),
      startDate = sd, endDate = d(col("end_date")),
      startYear = when(futureDated, lit(null).cast("int"))
        .otherwise(year(sd)),
      endYear = when(futureDated, lit(null).cast("int"))
        .otherwise(year(d(col("end_date")))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("fkz").isNotNull && trim(col("fkz")) =!= ""))
  }

  /** CONAHCYT / SECIHTI SNII appointments (CreateCONAHCYTAwards.ipynb
    * cell 13, 84,067 awards): appointment-as-award — display name is
    * "level — researcher", the description assembles from knowledge
    * area/institution, currency from the source, start/end YEARS come
    * from string prefixes (not the parsed dates), candidate level C
    * is the early-career fellowship. */
  def conahcyt: FunderIngestConfig = {
    val desc =
      when(col("area_conocimiento").isNotNull && col("institution").isNotNull,
        concat(lit("SNII appointment in "), col("area_conocimiento"),
          lit(" at "), col("institution"), lit(".")))
        .when(col("area_conocimiento").isNotNull,
          concat(lit("SNII appointment in "), col("area_conocimiento"),
            lit(".")))
        .when(col("institution").isNotNull,
          concat(lit("SNII appointment at "), col("institution"), lit(".")))
        .otherwise("SNII appointment.")
    val lead = investigator(col("given_name"), col("family_name"),
      col("institution"), lit("MX"), roleStart = d(col("start_date")))
    FunderIngestConfig(4320321739L, AwardFieldMap(
      provenance = "conahcyt_snii_ckan",
      priority = 83,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(col("snii_level_label"), lit(" — "),
        col("researcher_full_name")),
      description = desc,
      amount = col("amount_mxn").try_cast("double"),
      currency = col("currency"),
      fundingType = when(upper(col("snii_level")) === "C", "fellowship")
        .otherwise("research"),
      funderScheme = col("snii_level_label"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = substring(col("start_date"), 1, 4).try_cast("int"),
      endYear = substring(col("end_date"), 1, 4).try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("cvu").isNotNull && col("snii_level").isNotNull))
  }

  /** ANID Chile (CreateANIDAwards.ipynb cell 7, ~47K, priority 35):
    * CLP amounts, year-boundary dates, program→type cascade in
    * Spanish, "program - instrument" scheme, PI-or-institution-only
    * lead slot. */
  def anid: FunderIngestConfig = {
    val prog = upper(col("program"))
    val aff = when(col("institution").isNotNull,
      struct(col("institution").as("name"), lit("Chile").as("country"),
        lit(null).cast(affIds).as("ids")))
      .otherwise(lit(null).cast("struct<name:string,country:string," +
        "ids:array<struct<id:string,type:string,asserted_by:string>>>"))
    val lead = when(col("pi_name").isNotNull, struct(
      col("pi_given_name").as("given_name"),
      col("pi_family_name").as("family_name"),
      lit(null).cast("string").as("orcid"),
      lit(null).cast("date").as("role_start"),
      aff.as("affiliation")))
      .when(col("institution").isNotNull, investigator(lit(null).cast("string"),
        lit(null).cast("string"), col("institution"), lit("Chile")))
    FunderIngestConfig(4320331146L, AwardFieldMap(
      provenance = "anid_github", priority = 35,
      mintKey = lower(col("project_code")),
      funderAwardId = col("project_code"),
      displayName = when(trim(col("title")) =!= "", trim(col("title"))),
      amount = col("amount").try_cast("double"), currency = lit("CLP"),
      fundingType = likeCascade(prog, Seq(
        "POSTDOC" -> "fellowship", "DOCTORADO" -> "fellowship",
        "BECAS" -> "fellowship", "EQUIPAMIENTO" -> "equipment",
        "INFRAESTRUCTURA" -> "infrastructure"), "research"),
      funderScheme = when(col("instrument").isNotNull,
        concat(coalesce(col("program"), lit("")), lit(" - "),
          col("instrument"))).otherwise(col("program")),
      startDate = when(col("start_year").try_cast("int").isNotNull,
        d(concat(col("start_year"), lit("-01-01")))),
      endDate = when(col("end_year").try_cast("int").isNotNull,
        d(concat(col("end_year"), lit("-12-31")))),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("source_url"),
      rowFilter = col("project_code").isNotNull &&
        trim(col("project_code")) =!= ""))
  }

  /** Nobel's category → awarding-body map (CreateNobelAwards.ipynb
    * cell 9: physics/chemistry/economics → the Royal Swedish Academy
    * of Sciences, medicine → Karolinska; peace/literature are
    * non-scientific and deliberately unmapped, so they drop at the
    * resolution join exactly as the reference's inner join drops
    * them). */
  val nobelCategoryFunderMap: Map[String, Long] = Map(
    "phy" -> 4320320936L, "che" -> 4320320936L, "eco" -> 4320320936L,
    "med" -> 4320322315L)

  val nobelFunderIds: Seq[Long] = Seq(4320320936L, 4320322315L)

  /** Nobel Prizes (CreateNobelAwards.ipynb cell 9, priority 42 — the
    * PRIZE PATTERN TEMPLATE, and a prize+resolved hybrid: the
    * category resolves the awarding BODY, the apportioned amount
    * comes from the source's nominal SEK sum × portion, one row per
    * laureate with the laureate as lead investigator, Dec-10
    * ceremony-date fallback). */
  def nobel: ResolvedFunderIngestConfig = {
    val amt = col("prize_amount_sek").try_cast("double")
    val amount = when(col("portion") === "1", amt)
      .when(col("portion") === "1/2", amt * 0.5)
      .when(col("portion") === "1/3", amt / 3.0)
      .when(col("portion") === "1/4", amt * 0.25)
      .otherwise(amt)
    val awarded = coalesce(d(col("date_awarded")),
      d(concat(col("award_year"), lit("-12-10"))))
    val resolved = element_at(typedlit(nobelCategoryFunderMap),
      col("category_code"))
    ResolvedFunderIngestConfig(resolved, AwardFieldMap(
      provenance = "nobelprize_api", priority = 42,
      mintKey = concat(lit("nobel:"), col("category_code"), lit(":"),
        col("award_year"), lit(":"), col("laureate_id")),
      funderAwardId = concat(col("category_code"), lit("-"),
        col("award_year"), lit("-"), col("laureate_id")),
      displayName = concat(col("category_full_en"), lit(" "),
        col("award_year"), lit(" — "), col("laureate_full_name")),
      description = col("motivation_en"),
      amount = amount, currency = lit("SEK"),
      fundingType = lit("prize"),
      funderScheme = col("category_full_en"),
      startDate = awarded, endDate = awarded,
      startYear = col("award_year").try_cast("int"),
      endYear = col("award_year").try_cast("int"),
      leadInvestigator = investigator(col("laureate_given_name"),
        col("laureate_family_name"), col("affiliation_name"),
        col("affiliation_country")),
      landingPageUrl = concat(lit("https://www.nobelprize.org/prizes/"),
        col("category_code"), lit("/"), col("award_year"),
        lit("/summary/")),
      rowFilter = col("laureate_id").isNotNull))
  }

  /** GrantConnect's agency → funder map (CreateGrantConnectAwards
    * cell 8's VALUES, verbatim — a shared whole-of-government
    * register, never blanket-assigned; unmapped agencies fall back to
    * the Australian Government umbrella funder). */
  val grantConnectAgencyMap: Map[String, Long] = Map(
    "Attorney-General's Department" -> 4320325650L,
    "Australian Communications and Media Authority" -> 4320333917L,
    "Australian Federal Police" -> 4320310990L,
    "Australian Renewable Energy Agency" -> 4320323119L,
    "Australian Trade and Investment Commission (Austrade)" -> 4320331701L,
    "Cancer Australia" -> 4320320501L,
    "Department of Agriculture" -> 4320320376L,
    "Department of Agriculture, Fisheries and Forestry" -> 4320320376L,
    "Department of Climate Change, Energy, the Environment and Water" ->
      4216318126L,
    "Department of Communications and the Arts" -> 4320328982L,
    "Department of Defence" -> 4320320441L,
    "Department of Education" -> 4320321981L,
    "Department of Employment and Workplace Relations" -> 6050540351L,
    "Department of Employment, Skills, Small and Family Business" ->
      6050540351L,
    "Department of Finance" -> 4320331702L,
    "Department of Foreign Affairs and Trade" -> 4320320432L,
    "Department of Health, Disability and Ageing" -> 4320322220L,
    "Department of Home Affairs" -> 4320331703L,
    "Department of Industry, Science and Resources" -> 4320328828L,
    "Department of Infrastructure, Transport, Regional Development, " +
      "Communications, Sport and the Arts" -> 4320328982L,
    "Department of Social Services" -> 4320320374L,
    "Department of the Prime Minister and Cabinet" -> 4320323600L,
    "Department of Veterans' Affairs" -> 4320320381L,
    "Great Barrier Reef Marine Park Authority" -> 4320314560L,
    "National Blood Authority" -> 4320315995L,
    "National Disability Insurance Agency (NDIA)" -> 4320331704L,
    "National Indigenous Australians Agency" -> 4320331928L,
    "National Mental Health Commission" -> 4320331162L,
    "NDIS Quality and Safeguards Commission" -> 1374002132L,
    "Office of National Intelligence" -> 4320337300L,
    "Organ and Tissue Authority" -> 4320316032L,
    "Safe Work Australia" -> 4320325649L,
    "Wine Australia" -> 4320324767L)

  /** The GrantConnect funder lookup: the WHOLE registry dim plus the
    * three non-registry (Path B) funders inlined from their canonical
    * API values. */
  def grantConnectFunderLookup(spark: SparkSession,
      funders: DataFrame): DataFrame =
    funders.select("funder_id", "display_name", "ror_id", "doi")
      .unionByName(FunderIngest.inlineFunders(spark, Seq(
        (4216318126L, "Department of Climate Change, Energy, the " +
          "Environment and Water", Some("https://ror.org/01db6n192"),
          "10.13039/501100024290"),
        (6050540351L, "Department of Employment and Workplace Relations",
          Some("https://ror.org/02wa0fq92"), "10.13039/501100024170"),
        (1374002132L, "NDIS Quality and Safeguards Commission",
          Some("https://ror.org/036jqev97"), "10.13039/100032045"))))

  /** The research-relevance scope (CreateGrantConnectAwards cell 8's
    * scoped CTE): research-flavored subcategories OR a
    * research-program name pattern. */
  def grantConnectScope: Column =
    col("category").isin("Academic Medical Research",
      "Health and Medical Research",
      "Humanities, Arts and Social Sciences (HASS) Research",
      "Medical Research",
      "Science, Technology, Engineering and Mathematics (STEM) Research",
      "Scientific Research", "Technology") ||
      lower(col("grant_program")).rlike(
        "research (grant|program|programme|fund|scheme)|" +
          "cooperative research centre|medical research future fund")

  /** GrantConnect / grants.gov.au (CreateGrantConnectAwards.ipynb
    * cell 8, ~50K research-scoped, priority 415): agency-map
    * resolution with the umbrella default, AUD amounts,
    * recipient-org-as-affiliation with the placeholder screen
    * (Gates precedent), keyword-search landing URLs. */
  def grantConnect: ResolvedFunderIngestConfig = {
    val title = coalesce(
      when(trim(col("grant_activity")) =!= "", trim(col("grant_activity"))),
      when(trim(col("grant_program")) =!= "", trim(col("grant_program"))),
      when(length(col("purpose")) > 150,
        concat(substring(col("purpose"), 1, 147), lit("...")))
        .otherwise(col("purpose")))
    val recipient = trim(col("recipient_name"))
    val lead = when(recipient.isNotNull && recipient =!= "" &&
        !upper(recipient).isin("ABN EXEMPT", "CONFIDENTIAL", "WITHHELD",
          "N/A"),
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        recipient, col("recipient_country")))
    def d10(c: Column) = d(substring(c, 1, 10))
    val resolved = coalesce(
      element_at(typedlit(grantConnectAgencyMap), col("agency")),
      lit(4320315885L))
    ResolvedFunderIngestConfig(resolved, AwardFieldMap(
      provenance = "grantconnect", priority = 415,
      mintKey = lower(col("ga_id")),
      funderAwardId = col("ga_id"),
      displayName = title,
      description = when(trim(col("purpose")) =!= "", trim(col("purpose"))),
      amount = col("value_aud").try_cast("double"), currency = lit("AUD"),
      fundingType = likeCascade(lower(col("grant_program")), Seq(
        "fellowship" -> "fellowship", "scholarship" -> "fellowship"),
        "research"),
      funderScheme = when(trim(col("grant_program")) =!= "",
        trim(col("grant_program"))),
      startDate = d10(col("start_date")), endDate = d10(col("end_date")),
      startYear = year(d10(col("start_date"))),
      endYear = year(d10(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(
        lit("https://www.grants.gov.au/Search/KeywordSearch?keyword="),
        col("ga_id")),
      rowFilter = grantConnectScope && col("ga_id").isNotNull &&
        trim(col("ga_id")) =!= ""))
  }

  /** HHS TAGGS obligation-action rollup (CreateHHSTaggsAwards.ipynb
    * cell 11's actions/awards_rolled/awards_scoped CTEs): the export
    * is action-level, so amounts sum SIGNED obligations (parenthesized
    * = negative), titles elect the longest, categorical fields take
    * the mode, and the start date only counts when the award's
    * budget-period-1 action is inside the export window. Research
    * scope = competitively awarded classes only. One keyed
    * aggregation per (opdiv, award_number). */
  def hhsTaggsRollup(raw: DataFrame): DataFrame = {
    val amt = regexp_replace(col("award_amount"), "[$,()]", "")
      .try_cast("double") *
      when(col("award_amount").like("%(%"), -1).otherwise(1)
    val dt = coalesce(
      to_date(try_to_timestamp(col("action_date"), lit("M/d/yyyy"))),
      to_date(try_to_timestamp(col("action_date"), lit("MM/dd/yyyy"))))
    def nz(c: Column) = when(trim(c) =!= "", trim(c))
    raw
      .filter(col("award_number").isNotNull &&
        trim(col("award_number")) =!= "")
      .select(col("opdiv"),
        upper(trim(col("award_number"))).as("award_number"),
        nz(col("award_title")).as("award_title"),
        nz(col("assistance_listing")).as("assistance_listing"),
        nz(col("award_class_type")).as("award_class_type"),
        amt.as("amount_signed"), dt.as("action_dt"),
        col("budget_year").try_cast("int").as("budget_yr"))
      .groupBy(col("opdiv"), col("award_number"))
      .agg(max_by(col("award_title"), length(col("award_title")))
        .as("award_title"),
        mode(col("assistance_listing")).as("assistance_listing"),
        mode(col("award_class_type")).as("award_class_type"),
        sum(col("amount_signed")).as("total_obligated"),
        min(when(col("budget_yr") === 1, col("action_dt"))).as("start_dt"))
      .filter(col("award_class_type")
        .isin("DISCRETIONARY", "COOPERATIVE AGREEMENT"))
  }

  /** The TAGGS OPDIV → funder map (never blanket-assign one funder;
    * runbook §2.3.2). ASPR is a non-registry funder — its canonical
    * values inline (Path B). */
  val hhsTaggsOpdivMap: Map[String, Long] = Map(
    "SAMHSA" -> 4320332164L, "IHS" -> 4320332207L, "CMS" -> 4320332205L,
    "DHHS/OS" -> 4320306085L, "ASPR" -> 1724715131L)

  /** Registry rows for the four F4320* OPDIVs + the inline ASPR row. */
  def hhsTaggsFunderLookup(spark: SparkSession,
      funders: DataFrame): DataFrame =
    FunderIngest.requireFunders(funders,
      Seq(4320332164L, 4320332207L, 4320332205L, 4320306085L))
      .unionByName(FunderIngest.inlineFunders(spark, Seq(
        (1724715131L,
          "Administration for Strategic Preparedness and Response",
          Some("https://ror.org/05tjhqa05"), "10.13039/100021704"))))

  /** HHS TAGGS (CreateHHSTaggsAwards.ipynb cell 11): runs over the
    * [[hhsTaggsRollup]] output — OPDIV resolves the real funder,
    * positive obligation sums only, no PI/landing/description in the
    * export by design. */
  def hhsTaggs: ResolvedFunderIngestConfig =
    ResolvedFunderIngestConfig(
      element_at(typedlit(hhsTaggsOpdivMap), col("opdiv")), AwardFieldMap(
      provenance = "hhs_taggs", priority = 417,
      mintKey = lower(col("award_number")),
      funderAwardId = col("award_number"),
      displayName = col("award_title"),
      amount = when(col("total_obligated") > 0, col("total_obligated")),
      currency = lit("USD"),
      fundingType = lit("grant"),
      funderScheme = col("assistance_listing"),
      startDate = col("start_dt"),
      startYear = year(col("start_dt")),
      rowFilter = col("award_number").isNotNull))

  val swecrisFunderIds: Seq[Long] = Seq(4320321031L, 4320322579L,
    4320321759L, 4320316858L, 4320325984L)

  /** SweCRIS (CreateSweCRISAwards.ipynb cell 8, priority 437): the
    * parquet CARRIES the resolved OpenAlex funder id per row —
    * resolution is a cast, the 5-id allow-list join drops anything
    * else. Award ids strip their `_Xyz` org suffix for the mint and
    * the landed id, but the landing URL keeps the unstripped form. */
  def swecris: ResolvedFunderIngestConfig = {
    val stripped = regexp_replace(trim(col("project_id")),
      "_[A-Za-z]+$", "")
    val ta = lower(coalesce(col("type_of_award"), lit("")))
    def nz(c: Column) = when(trim(c) =!= "", trim(c))
    val lead = when(col("pi_family_name").isNotNull &&
        trim(col("pi_family_name")) =!= "",
      investigator(nz(col("pi_given_name")), trim(col("pi_family_name")),
        nz(col("coordinating_organisation")), lit("Sweden"),
        orcid = nz(col("pi_orcid"))))
    val resolved = col("openalex_funder_id").try_cast("bigint")
    ResolvedFunderIngestConfig(resolved, AwardFieldMap(
      provenance = "swecris", priority = 437,
      mintKey = lower(stripped),
      funderAwardId = stripped,
      displayName = coalesce(nz(col("title_english")), nz(col("title"))),
      description = coalesce(nz(col("abstract_english")),
        nz(col("abstract"))),
      amount = when(col("amount").try_cast("double") =!= 0,
        col("amount").try_cast("double")),
      currency = lit("SEK"),
      fundingType = likeCascade(ta, Seq(
        "fellow" -> "fellowship", "stipend" -> "fellowship",
        "position" -> "fellowship", "infrastructure" -> "infrastructure",
        "project" -> "research"), "grant"),
      funderScheme = nz(col("type_of_award")),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://www.vr.se/swecris#/project/"),
        trim(col("project_id"))),
      rowFilter = col("project_id").isNotNull &&
        trim(col("project_id")) =!= ""))
  }

  /** The EC inline funder lookup (CreateEuropeanCommissionAwards
    * cell 8's funders CTE, verbatim — deliberately NOT the registry
    * dim: the HORIZON EUROPE sub-body rows may be absent from it and
    * a missing dim row would silently drop every MSCA/EIC project). */
  def ecFunderLookup(spark: SparkSession): DataFrame =
    FunderIngest.inlineFunders(spark, Seq(
      (4320320300L, "European Commission",
        Some("https://ror.org/00k4n6c32"), "10.13039/501100000780"),
      (4320338438L, "HORIZON EUROPE Marie Sklodowska-Curie Actions",
        None, "10.13039/100018694"),
      (4320338448L, "HORIZON EUROPE European Innovation Council",
        None, "10.13039/100018703")))

  /** European Commission via CORDIS bulk
    * (CreateEuropeanCommissionAwards.ipynb cell 8, ~80K across
    * FP7/H2020/HORIZON): ERC-scheme projects are EXCLUDED (the ERC
    * ingest is authoritative — without the screen the same project
    * landed under both funders with different minted ids and
    * double-counted ~17.5k grants); HORIZON-framework MSCA / EIC
    * projects route to their sub-body funders, everything else to
    * the generic EC funder. */
  def europeanCommission: ResolvedFunderIngestConfig = {
    val fsU = upper(col("funding_scheme"))
    val fsL = lower(col("funding_scheme"))
    val resolved =
      when(col("framework_programme") === "HORIZON" &&
        fsU.like("%MSCA%"), 4320338438L)
        .when(col("framework_programme") === "HORIZON" &&
          fsU.like("%EIC%"), 4320338448L)
        .otherwise(4320320300L)
    val fundingType =
      when(fsL.like("%msca%"), "fellowship")
        .when(fsL.like("%itn%"), "training")
        .when(fsL.like("%mc-itn%"), "training")
        .when(fsL.like("%if%"), "fellowship")
        .when(fsL.like("%irf%"), "fellowship")
        .when(fsL.like("%ief%"), "fellowship")
        .when(fsL.like("%iof%"), "fellowship")
        .when(fsL.like("%cofund%"), "fellowship")
        .when(fsL.like("%erc%"), "research")
        .when(fsL.like("horizon-erc%"), "research")
        .when(fsL.like("%sme%"), "commercial")
        .when(fsU.isin("RIA", "HORIZON-RIA"), "research")
        .when(fsU.isin("IA", "HORIZON-IA"), "research")
        .when(fsU.isin("CSA", "HORIZON-CSA"), "grant")
        .when(fsL.like("%infra%"), "infrastructure")
        .when(fsU.isin("CP", "CP-FP", "CP-IP"), "research")
        .otherwise("grant")
    val lead = when(col("coordinator_name").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("coordinator_name"), col("coordinator_country")))
    ResolvedFunderIngestConfig(resolved, AwardFieldMap(
      provenance = "cordis", priority = 27,
      mintKey = lower(col("cordis_project_id")),
      funderAwardId = col("cordis_project_id"),
      displayName = col("title"), description = col("objective"),
      amount = col("ec_max_contribution").try_cast("double"),
      currency = lit("EUR"),
      fundingType = fundingType,
      funderScheme = concat(col("framework_programme"), lit(" - "),
        coalesce(col("funding_scheme"), lit("Unknown"))),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://cordis.europa.eu/project/id/"),
        col("cordis_project_id")),
      doi = col("grant_doi"),
      rowFilter = col("cordis_project_id").isNotNull &&
        trim(col("cordis_project_id")) =!= "" &&
        !coalesce(upper(col("funding_scheme")), lit(""))
          .like("ERC-%") &&
        !coalesce(upper(col("funding_scheme")), lit(""))
          .like("HORIZON-ERC%")))
  }

  // ---------------------------------------------------------------
  // Tier-2 single-funder configs (round-11): the next ten notebooks
  // by volume, constant-for-constant from their transform cells.
  // ---------------------------------------------------------------

  /** Wellcome Trust 360Giving dump (CreateWellcomeAwards.ipynb cell 7,
    * ~20K): GBP, the 2026-07-31 award-id fix — funder_award_id is the
    * CITABLE grant_ref (NNNNNN/L/NN/L), never the 360Giving
    * `360G-Wellcome-...` form (guarded in rowFilter), the
    * grant-programme type cascade, and the surname-anchored given-name
    * parse (strip the surname off either end of the full name; comma /
    * first-word fallbacks otherwise). */
  def wellcome: FunderIngestConfig = {
    val gp = lower(col("grant_programme"))
    val fundingType = likeCascade(gp, Seq(
      "phd" -> "fellowship", "studentship" -> "fellowship",
      "fellowship" -> "fellowship", "scholarship" -> "fellowship",
      "training" -> "training", "career" -> "fellowship",
      "investigator" -> "research", "project" -> "research",
      "strategic" -> "research", "collaborative" -> "research",
      "seed" -> "research", "discovery" -> "research",
      "equipment" -> "infrastructure", "capital" -> "infrastructure",
      "building" -> "infrastructure", "open access" -> "other",
      "vacation" -> "fellowship"), "grant")
    val nm = col("lead_applicant_name")
    val sn = col("applicant_surname")
    val given =
      when(nm.startsWith(concat(sn, lit(","))),
        trim(nm.substr(length(sn) + lit(2), length(nm))))
        .when(nm.endsWith(concat(lit(" "), sn)),
          trim(nm.substr(lit(1), length(nm) - length(sn) - 1)))
        .when(instr(nm, ",") > 0,
          trim(nm.substr(instr(nm, ",") + 1, length(nm))))
        .when(instr(nm, " ") > 0, trim(nm.substr(lit(1), instr(nm, " ") - 1)))
    val lead = when(nm.isNotNull, investigator(given, sn,
      col("recipient_org_name"), col("recipient_orgcountry")))
    FunderIngestConfig(4320311904L, AwardFieldMap(
      provenance = "wellcome_trust", priority = 22,
      mintKey = lower(col("grant_ref")),
      funderAwardId = col("grant_ref"),
      displayName = col("title"), description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = coalesce(col("currency"), lit("GBP")),
      fundingType = fundingType, funderScheme = col("grant_programme"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://wellcome.org/grant-funding/" +
        "people-and-projects/grants-awarded?q="), col("grant_ref")),
      rowFilter = col("grant_ref").isNotNull &&
        trim(col("grant_ref")) =!= "" && !col("grant_ref").like("360G-%")))
  }

  /** The shared "Family, Given" / "Title Given Family" PI parse of the
    * NHMRC/ARC family (CreateNHMRCAwards cell 9 / CreateARCAwards
    * cell 7): comma form splits at the comma; otherwise the honorific
    * prefix is stripped and the first/last tokens are taken. Returns
    * (given, family). */
  private def titledNameParse(nm: Column, titleRe: String):
      (Column, Column) = {
    val stripped = trim(regexp_replace(nm, titleRe, ""))
    val given =
      when(instr(nm, ",") > 0, trim(substring_index(nm, ",", -1)))
        .when(instr(nm, " ") > 0, trim(substring_index(stripped, " ", 1)))
    val family =
      when(instr(nm, ",") > 0, trim(substring_index(nm, ",", 1)))
        .when(instr(nm, " ") > 0, trim(substring_index(stripped, " ", -1)))
        .otherwise(nm)
    (given, family)
  }

  private val NhmrcTitleRe =
    "^(Dr|Prof|Professor|Associate Professor|A/Prof|Assoc Prof|Mr|Ms|Mrs)\\s+"

  /** NHMRC grant outcomes (CreateNHMRCAwards.ipynb cell 9, primary
    * corpus): AUD, the grant-type cascade over
    * COALESCE(grant_type, grant_sub_type), two-format date parse with
    * year-boundary fallback, the CIA (Chief Investigator A) titled-name
    * parse with ORCID + optional ROR affiliation id. */
  def nhmrc: FunderIngestConfig = {
    val gt = lower(coalesce(col("grant_type"), col("grant_sub_type")))
    val fundingType = likeCascade(gt, Seq(
      "investigator" -> "research", "ideas" -> "research",
      "synergy" -> "research", "fellowship" -> "fellowship",
      "scholarship" -> "fellowship", "postgraduate" -> "fellowship",
      "clinical trial" -> "research", "cohort" -> "research",
      "project" -> "research", "program" -> "research",
      "centre" -> "infrastructure", "equipment" -> "infrastructure",
      "development" -> "research"), "grant")
    def ts(c: Column) = coalesce(
      to_date(try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss"))),
      to_date(try_to_timestamp(c, lit("yyyy-MM-dd"))))
    val sd = coalesce(ts(col("start_date")),
      when(col("start_year").try_cast("int").isNotNull,
        d(concat(col("start_year"), lit("-01-01")))))
    val ed = coalesce(ts(col("end_date")),
      when(col("end_year").try_cast("int").isNotNull,
        d(concat(col("end_year"), lit("-12-31")))))
    val (given, family) = titledNameParse(col("cia_name"), NhmrcTitleRe)
    val rorIds = when(col("administering_institution_ror_id").isNotNull,
      array(struct(col("administering_institution_ror_id").as("id"),
        lit("ror").as("type"), lit("nhmrc").as("asserted_by"))))
      .otherwise(lit(null).cast(affIds))
    val lead = when(col("cia_name").isNotNull && trim(col("cia_name")) =!= "",
      investigator(given, family, col("administering_institution"),
        lit("Australia"), orcid = col("cia_orcid"), ids = rorIds))
    val aid = coalesce(col("grant_id"), col("app_id"))
    FunderIngestConfig(4320334705L, AwardFieldMap(
      provenance = "nhmrc", priority = 12,
      mintKey = lower(aid),
      funderAwardId = aid,
      displayName = coalesce(col("grant_title"), col("simplified_title")),
      description = col("plain_description"),
      amount = col("total").try_cast("double"), currency = lit("AUD"),
      fundingType = fundingType,
      funderScheme = concat_ws(" - ", col("grant_type"),
        col("grant_sub_type")),
      startDate = sd, endDate = ed,
      startYear = coalesce(col("start_year").try_cast("int"),
        year(ts(col("start_date")))),
      endYear = coalesce(col("end_year").try_cast("int"),
        year(ts(col("end_date")))),
      leadInvestigator = lead,
      rowFilter = aid.isNotNull && trim(aid) =!= ""))
  }

  /** The NHMRC historical-extension dedup (CreateNHMRCAwards cell 11's
    * `dedup` CTE): the 1993-2016 all-grants dump carries 3 in-file
    * duplicate award ids — keep the latest application_year. Keyed
    * window over the registry delta, never the corpus. */
  def nhmrcHistoricalDedup(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    raw.filter(col("award_id").isNotNull && trim(col("award_id")) =!= "")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("award_id")).orderBy(
          col("application_year").try_cast("double").cast("int").desc)))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** NHMRC historical extension (CreateNHMRCAwards.ipynb cell 11,
    * 1993-2016 all-grants dump): bare APP-numeral award ids (the
    * citation-side citable form), year-boundary dates only, the E/Pr
    * honorific added to the titled-name parse; landed ADDITIVELY via
    * [[FunderIngest.appendFyExtension]] (cell 12's anti-join — primary
    * rows always win on lowered funder_award_id). Same provenance +
    * priority slot as the primary. */
  def nhmrcHistorical: FunderIngestConfig = {
    val titleRe = "^(Dr|Prof|Professor|Associate Professor|A/Prof|" +
      "Assoc Prof|Mr|Ms|Mrs|E/Pr)\\s+"
    val gt = lower(col("grant_type"))
    val fundingType =
      when(gt.like("%fellowship%"), "fellowship")
        .when(gt.like("%scholarship%"), "fellowship")
        .when(gt.like("%postgraduate%"), "fellowship")
        .when(gt.like("%centre%"), "infrastructure")
        .when(gt.like("%equipment%"), "infrastructure")
        .when(col("grant_type").isNotNull, "research")
        .otherwise("grant")
    val sy = col("start_year").try_cast("double").cast("int")
    val ey = col("end_year").try_cast("double").cast("int")
    val (given, family) = titledNameParse(col("pi_name"), titleRe)
    val lead = when(col("pi_name").isNotNull && trim(col("pi_name")) =!= "",
      investigator(given, family, col("institution"), lit("Australia")))
    FunderIngestConfig(4320334705L, AwardFieldMap(
      provenance = "nhmrc", priority = 12,
      mintKey = lower(col("award_id")),
      funderAwardId = col("award_id"),
      displayName = col("title"),
      amount = col("budget_total").try_cast("double"),
      currency = lit("AUD"),
      fundingType = fundingType, funderScheme = col("grant_type"),
      startDate = when(sy.isNotNull,
        d(concat(sy.cast("string"), lit("-01-01")))),
      endDate = when(ey.isNotNull,
        d(concat(ey.cast("string"), lit("-12-31")))),
      startYear = sy, endYear = ey,
      leadInvestigator = lead,
      rowFilter = col("award_id").isNotNull && trim(col("award_id")) =!= ""))
  }

  private val ArcTitleRe = "^(Dr|Prof|Professor|Associate Professor|" +
    "A/Prof|Asst Prof|Assoc Prof|Mr|Ms|Mrs|Miss|Emeritus Professor|" +
    "Emeritus Prof|Adj/Prof|Adjunct Professor)\\s+"

  /** ARC grants (CreateARCAwards.ipynb cell 7): AUD, the scheme-name
    * type cascade (fellowship screens before the
    * infrastructure/centre block, which screens before
    * project/discovery/linkage research), start-year-boundary start
    * date + real end date, the titled-name PI parse against the
    * grantee institution. */
  def arc: FunderIngestConfig = {
    val sch = lower(col("scheme_name"))
    val fundingType =
      when(sch.like("%fellowship%"), "fellowship")
        .when(sch.like("%decra%") || sch.like("%early career%"),
          "fellowship")
        .when(sch.like("%laureate%"), "fellowship")
        .when(sch.like("%infrastructure%"), "infrastructure")
        .when(sch.like("%equipment%"), "infrastructure")
        .when(sch.like("%facilities%"), "infrastructure")
        .when(sch.like("%centre%"), "infrastructure")
        .when(sch.like("%project%"), "research")
        .when(sch.like("%discovery%"), "research")
        .when(sch.like("%linkage%"), "research")
        .when(sch.like("%industrial%"), "research")
        .when(sch.like("%intelligence%"), "research")
        .when(sch.like("%indigenous%"), "research")
        .otherwise("grant")
    val li = col("lead_investigator")
    val empty = li.isNull || trim(li) === ""
    // unlike NHMRC's space-gated parse, ARC's else-arm always splits
    // the title-stripped name: single-token names land in BOTH fields
    val stripped = trim(regexp_replace(li, ArcTitleRe, ""))
    val given = when(instr(li, ",") > 0, trim(substring_index(li, ",", -1)))
      .otherwise(trim(element_at(split(stripped, " "), 1)))
    val family = when(instr(li, ",") > 0, trim(substring_index(li, ",", 1)))
      .otherwise(trim(element_at(split(stripped, " "), -1)))
    val lead = when(!empty, investigator(given, family, col("grantee"),
      lit("Australia")))
    FunderIngestConfig(4320334704L, AwardFieldMap(
      provenance = "arc", priority = 20,
      mintKey = lower(col("code")),
      funderAwardId = col("code"),
      displayName = col("title"), description = col("summary"),
      amount = col("grant_value").try_cast("double"),
      currency = lit("AUD"),
      fundingType = fundingType, funderScheme = col("scheme_name"),
      startDate = when(col("start_year").try_cast("int").isNotNull,
        d(concat(col("start_year"), lit("-01-01")))),
      endDate = d(col("end_date")),
      startYear = col("start_year").try_cast("int"),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(
        lit("https://dataportal.arc.gov.au/RGS/Web/Grants/"), col("code")),
      rowFilter = col("code").isNotNull && trim(col("code")) =!= ""))
  }

  /** The NSERC co-applicants rollup (CreateNSERCAwards.ipynb cell 8's
    * `coapplicants_agg` CTE): one investigators array per
    * applicationid from the side table's "LastName, FirstName" names —
    * LEFT JOIN this onto the raw before [[FunderIngest.transform]]
    * with [[nserc]] (whose `investigators = col("investigators")`
    * reads the joined column). One keyed aggregation; the join key is
    * the award id, so both sides partition the same way. */
  def nsercCoapplicantsAgg(coapplicants: DataFrame): DataFrame = {
    val nm = col("coapplicantname_nomcoapplicant")
    val hasComma = nm.contains(",")
    coapplicants.filter(col("applicationid").isNotNull)
      .groupBy(col("applicationid"))
      .agg(collect_list(investigator(
        when(hasComma, trim(element_at(split(nm, ","), 2)))
          .otherwise(lit(null).cast("string")),
        when(hasComma, trim(element_at(split(nm, ","), 1)))
          .otherwise(trim(nm)), col("coappinstitution_etablissement"),
        col("countryen")))
        .as("investigators"))
  }

  /** NSERC open data (CreateNSERCAwards.ipynb cell 8, FY1991-2024):
    * CAD amounts scrubbed of currency formatting, the Canadian fiscal
    * year (April 1 → March 31 next year) as the date span, LOWERED
    * funder_award_id (the notebook lands it lowered), the
    * "LastName, FirstName" comma parse, co-applicants as the
    * investigators array via [[nsercCoapplicantsAgg]], and the 'NA'
    * placeholder id screen. */
  def nserc: FunderIngestConfig = {
    val grp = lower(col("groupen"))
    val fundingType = likeCascade(grp, Seq(
      "discovery" -> "research", "fellowship" -> "fellowship",
      "scholarship" -> "fellowship", "research partnership" -> "research",
      "training" -> "training", "equipment" -> "equipment",
      "supplement" -> "supplement"), "grant")
    val fy = col("fiscalyear_exercice_financier")
    val nm = col("name_nom")
    val hasComma = nm.contains(",")
    val lead = when(nm.isNotNull && trim(nm) =!= "", investigator(
      when(hasComma, trim(element_at(split(nm, ","), 2))),
      when(hasComma, trim(element_at(split(nm, ","), 1)))
        .otherwise(trim(nm)), col("institution_etablissement"),
      col("countryen")))
    FunderIngestConfig(4320334593L, AwardFieldMap(
      provenance = "nserc_open_data", priority = 3,
      mintKey = lower(trim(col("applicationid"))),
      funderAwardId = lower(trim(col("applicationid"))),
      displayName = col("applicationtitle"),
      description = col("applicationsummary"),
      amount = regexp_replace(col("awardamount"), "[^0-9.]", "")
        .try_cast("double"),
      currency = lit("CAD"),
      fundingType = fundingType,
      funderScheme = coalesce(col("programnameen"), col("programnaneen")),
      startDate = when(fy.isNotNull, d(concat(fy, lit("-04-01")))),
      endDate = when(fy.isNotNull, d(concat(
        (fy.cast("int") + 1).cast("string"), lit("-03-31")))),
      startYear = fy.cast("int"), endYear = fy.cast("int"),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://www.nserc-crsng.gc.ca/" +
        "ase-oro/Details-Detailles_eng.asp?id="), col("applicationid")),
      rowFilter = col("applicationid").isNotNull &&
        trim(col("applicationid")) =!= "" &&
        trim(col("applicationid")) =!= "NA",
      investigators = col("investigators")))
  }

  /** Cancer Research UK (CreateCRUKAwards.ipynb cell 7, Path A, 154
    * recent awards): no amounts published (§6.7 waiver — NULL
    * amount/currency), fixed 'research' type, committee as scheme,
    * scraped landing URL, and the NULL works_api_url deviation (the
    * notebook emits CAST(NULL AS STRING), not the mint-derived URL). */
  def cruk: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull, investigator(col("pi_given"),
      col("pi_family"), col("institution"), lit("United Kingdom")))
    FunderIngestConfig(4320319985L, AwardFieldMap(
      provenance = "cruk", priority = 342,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      fundingType = lit("research"),
      funderScheme = col("funder_scheme"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Academy of Finland via the Research.fi API
    * (CreateAcademyOfFinlandAwards.ipynb cell 7, ~5.4K): EUR,
    * English-preferred title/description with Finnish fallback, the
    * Research.fi funding-type cascade, the mint keyed on project_id
    * but funder_award_id = funder_project_number (they differ!),
    * PI name only (affiliation fields are all NULL in the source). */
  def academyOfFinland: FunderIngestConfig = {
    val ft = lower(col("funding_type"))
    val fundingType = likeCascade(ft, Seq(
      "fellowship" -> "fellowship", "postdoctoral" -> "fellowship",
      "research fellow" -> "fellowship", "academy professor" -> "fellowship",
      "centre of excellence" -> "research", "flagship" -> "research",
      "infrastructure" -> "infrastructure", "strategic" -> "research",
      "academy project" -> "grant"), "grant")
    def enOr(en: Column, fi: Column) =
      coalesce(when(trim(en) =!= "", trim(en)), fi)
    val lead = when(col("pi_family_name").isNotNull, investigator(
      col("pi_given_name"), col("pi_family_name"), lit(null).cast("string"),
      lit("Finland")))
    FunderIngestConfig(4320321108L, AwardFieldMap(
      provenance = "researchfi", priority = 24,
      mintKey = lower(col("project_id").cast("string")),
      funderAwardId = col("funder_project_number"),
      displayName = enOr(col("title_en"), col("title_fi")),
      description = enOr(col("description_en"), col("description_fi")),
      amount = col("amount_eur").try_cast("double"),
      currency = lit("EUR"),
      fundingType = fundingType, funderScheme = col("call_programme"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://research.fi/en/results/funding/"),
        col("project_id").cast("string")),
      rowFilter = col("project_id").isNotNull))
  }

  /** FWF / Austrian Science Fund via OpenAIRE
    * (_deprecated/CreateFWFAwards.ipynb cell 6, ~10.1K — the notebook
    * is parked in _deprecated but 'openaire_fwf' remains a live
    * provenance in CreateAwards/CreateAwardsAPI, so the slice shape is
    * pinned here): EUR, keywords as the description (OpenAIRE carries
    * no abstracts), the German programme-name cascade with the
    * Wittgenstein 'prize' and SFB/cluster 'center' arms, GRANT DOIs
    * lifted from the source (the 10.55776/... forms), no PI data. */
  def fwf: FunderIngestConfig = {
    val fp = lower(col("funding_program"))
    val fundingType = likeCascade(fp, Seq(
      "start" -> "fellowship", "hertha firnberg" -> "fellowship",
      "elise richter" -> "fellowship", "lise meitner" -> "fellowship",
      "schr%dinger" -> "fellowship", "doctoral" -> "training",
      "doktorat" -> "training", "wittgenstein" -> "prize",
      "special research" -> "center", "spezialforschung" -> "center",
      "sfb" -> "center", "cluster" -> "center",
      "infrastructure" -> "infrastructure", "einzelprojekt" -> "grant",
      "principal investigator" -> "grant"), "grant")
    FunderIngestConfig(4320321181L, AwardFieldMap(
      provenance = "openaire_fwf", priority = 29,
      mintKey = lower(col("project_code")),
      funderAwardId = col("project_code"),
      displayName = col("title"), description = col("keywords"),
      amount = col("funded_amount").try_cast("double"),
      currency = coalesce(col("currency"), lit("EUR")),
      fundingType = fundingType, funderScheme = col("funding_program"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      landingPageUrl = col("website_url"),
      doi = col("doi"),
      rowFilter = col("project_code").isNotNull &&
        trim(col("project_code")) =!= ""))
  }

  /** FAPESP Biblioteca Virtual (CreateFAPESPAwards.ipynb cell 7,
    * ~113K): no amounts in the source but currency pinned 'BRL',
    * English-preferred title/abstract with Portuguese fallback, the
    * Portuguese support-modality cascade (bolsa/fellowship,
    * reunião/conference, PIPE-PITE/innovation, temático/research),
    * process-number landing URL with slashes dashed. */
  def fapesp: FunderIngestConfig = {
    val sm = lower(col("support_modality"))
    val fundingType = likeCascade(sm, Seq(
      "bolsa" -> "fellowship", "jovens pesquisadores" -> "fellowship",
      "young investigators" -> "fellowship",
      "pesquisador visitante" -> "fellowship",
      "visiting researcher" -> "fellowship",
      "infraestrutura" -> "infrastructure", "equipamentos" -> "infrastructure",
      "reunião" -> "conference", "organização" -> "conference",
      "publicações" -> "publication", "pipe" -> "innovation",
      "pite" -> "innovation", "inovativa" -> "innovation",
      "temático" -> "research", "thematic" -> "research"), "grant")
    def enOr(en: Column, pt: Column) =
      coalesce(when(trim(en) =!= "", trim(en)), pt)
    val lead = when(col("pi_family_name").isNotNull, investigator(
      col("pi_given_name"), col("pi_family_name"), col("institution"),
      lit("Brazil")))
    FunderIngestConfig(4320320997L, AwardFieldMap(
      provenance = "fapesp_bv", priority = 19,
      mintKey = lower(col("process_number")),
      funderAwardId = col("process_number"),
      displayName = enOr(col("title_en"), col("title_pt")),
      description = enOr(col("abstract_en"), col("abstract_pt")),
      currency = lit("BRL"),
      fundingType = fundingType, funderScheme = col("support_modality"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://bv.fapesp.br/en/auxilios/"),
        regexp_replace(col("process_number"), "/", "-"), lit("/")),
      rowFilter = col("process_number").isNotNull &&
        trim(col("process_number")) =!= ""))
  }

  /** NCN / Polish National Science Centre via RAD-on
    * (CreateNCNAwards.ipynb cell 8 — the oxjob #690 source pivot:
    * citable UMO project numbers replacing the synthetic ranking-list
    * codes, same 'ncn' provenance + priority-32 slot): PLN amounts
    * gated on > 0 (currency nulled alongside), title falling back to
    * "NCN grant <id>", the institution-only lead fallback when no PI
    * name, and the NULL works_api_url deviation. */
  def ncn: FunderIngestConfig = {
    val amt = col("amount").try_cast("decimal(18,2)")
    val lead = when(col("pi_family").isNotNull, investigator(col("pi_given"),
      col("pi_family"), col("institution"), lit("Poland")))
      .when(col("institution").isNotNull, investigator(lit(null).cast("string"),
        lit(null).cast("string"), col("institution"), lit("Poland")))
    FunderIngestConfig(4320322511L, AwardFieldMap(
      provenance = "ncn", priority = 32,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(
        when(trim(col("title")) =!= "", trim(col("title"))),
        concat(lit("NCN grant "), col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt.cast("double")),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"), funderScheme = col("scheme"),
      startDate = d(col("start_date_raw")), endDate = d(col("end_date_raw")),
      startYear = year(d(col("start_date_raw"))),
      endYear = year(d(col("end_date_raw"))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull,
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  // ---------------------------------------------------------------
  // Tier-3 single-funder configs (round-11, second batch): the next
  // ten by volume after the verdict's tier-2 list.
  // ---------------------------------------------------------------

  /** Erasmus+ Project Results platform
    * (CreateErasmusPlusAwards.ipynb cell 9, ~327K projects across
    * 2014-2020 + 2021-2027): EUR EU-grant amounts, fixed 'grant' type,
    * action-type scheme with key-action fallback, organisation-only
    * lead (no person PIs in the source — coordinator org =
    * affiliation). */
  def erasmusPlus: FunderIngestConfig = {
    val lead = when(col("coordinator_name").isNotNull, investigator(
      lit(null).cast("string"), lit(null).cast("string"),
      col("coordinator_name"), col("coordinator_country")))
    FunderIngestConfig(4320335551L, AwardFieldMap(
      provenance = "erasmus_plus", priority = 427,
      mintKey = lower(col("project_reference")),
      funderAwardId = col("project_reference"),
      displayName = col("project_title"),
      description = coalesce(col("project_description"),
        col("description_objectives"), col("description_background")),
      amount = col("granted_eu_amount").try_cast("double"),
      currency = lit("EUR"),
      fundingType = lit("grant"),
      funderScheme = coalesce(col("level3_label"), col("level2_label")),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("project_reference").isNotNull &&
        trim(col("project_reference")) =!= ""))
  }

  /** NSFC completed-project database (CreateNSFCAwards.ipynb cell 7,
    * ~126K 结题 projects): CNY gated on amount > 0, the
    * Chinese-programme type cascade (杰出青年/优秀青年 fellowships,
    * 创新研究群体/基础科学中心/重点/重大 research — case-sensitive, no
    * LOWER), conclusion-year Dec-31 end boundary, the
    * name-or-institution lead gate, priority 209 (restored by
    * oxjob #500 after the dedup-direction flip so NSFC outranks the
    * crossref/datacite shells). */
  def nsfc: FunderIngestConfig = {
    val sch = col("funder_scheme")
    val fundingType = likeCascade(sch, Seq(
      "杰出青年" -> "fellowship", "优秀青年" -> "fellowship", "创新研究群体" -> "research",
      "基础科学中心" -> "research", "重点" -> "research", "重大" -> "research"), "grant")
    val lead = when(
      (col("family_name").isNotNull && trim(col("family_name")) =!= "") ||
        (col("institution").isNotNull && trim(col("institution")) =!= ""),
      investigator(col("given_name"), col("family_name"), col("institution"),
        lit("China")))
    FunderIngestConfig(4320321001L, AwardFieldMap(
      provenance = "nsfc_kd", priority = 209,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      amount = col("amount").try_cast("double"),
      currency = when(col("amount").try_cast("double") > 0, "CNY"),
      fundingType = fundingType, funderScheme = sch,
      startDate = d(col("start_date")),
      endDate = d(concat(col("conclusion_year"), lit("-12-31"))),
      startYear = col("start_year").try_cast("int"),
      endYear = col("conclusion_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://kd.nsfc.cn/finalDetails?id="),
        col("project_id")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id").cast("string")) =!= ""))
  }

  /** Junta de Andalucía bulk subsidies, research-scoped
    * (CreateAndaluciaAwards.ipynb cell 9; the 54A/research inclusion
    * rule runs in the scraper): EUR gated on > 0, the
    * announcement-regex fellowship screen, grant-date-or-award-year
    * start, institution-only lead (person names unsplittable),
    * portal-level landing URL, no row filter (the scraper owns the
    * scope). */
  def andalucia: FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val lead = when(col("institution_name").isNotNull &&
        trim(col("institution_name")) =!= "",
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("institution_name"), lit("Spain")))
    FunderIngestConfig(4320326754L, AwardFieldMap(
      provenance = "andalucia", priority = 421,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("announcement"),
      description = when(trim(col("finality")) =!= "",
        trim(col("finality"))),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, lit("EUR")),
      fundingType = when(lower(col("announcement")).rlike(
        "(predoctoral|postdoctoral|posdoctoral|contrat|talentia|beca)"),
        "fellowship").otherwise("research"),
      funderScheme = when(trim(col("name_program")) =!= "",
        trim(col("name_program"))),
      startDate = d(col("grant_date")),
      startYear = coalesce(year(d(col("grant_date"))),
        col("award_year").try_cast("int")),
      leadInvestigator = lead,
      landingPageUrl = lit("https://www.juntadeandalucia.es/datosabiertos/" +
        "portal/dataset/subvenciones-otorgadas-por-la-junta-de-andalucia"),
      rowFilter = lit(true)))
  }

  /** NWO / Dutch Research Council via NWOpen
    * (CreateNWOAwards.ipynb cell 6, ~14.6K): no amounts in the API
    * (EUR currency still stamped), the Veni/Vidi/Vici fellowship +
    * Spinoza/Stevin prize + Gravitation research cascade, pi_id
    * already an ORCID URL, dotted project ids dashed for the landing
    * URL. */
  def nwo: FunderIngestConfig = {
    val gc = lower(col("grant_category"))
    val fundingType = likeCascade(gc, Seq(
      "veni" -> "fellowship", "vidi" -> "fellowship", "vici" -> "fellowship",
      "fellowship" -> "fellowship", "promotiebeurs" -> "fellowship",
      "onderzoekstalent" -> "fellowship", "graduate" -> "training",
      "spinoza" -> "prize", "stevin" -> "prize", "gravitation" -> "research",
      "zwaartekracht" -> "research", "infrastructuur" -> "infrastructure",
      "infrastructure" -> "infrastructure"), "grant")
    val lead = when(col("pi_family_name").isNotNull, investigator(
      col("pi_given_name"), col("pi_family_name"), col("lead_org_name"),
      lit("Netherlands"), orcid = col("pi_id")))
    FunderIngestConfig(4320321800L, AwardFieldMap(
      provenance = "nwopen", priority = 11,
      mintKey = lower(col("project_id")),
      funderAwardId = col("project_id"),
      displayName = col("title"), description = col("abstract"),
      currency = lit("EUR"),
      fundingType = fundingType, funderScheme = col("grant_category"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://www.nwo.nl/projecten/"),
        regexp_replace(col("project_id"), "\\.", "-")),
      rowFilter = col("project_id").isNotNull &&
        trim(col("project_id")) =!= ""))
  }

  /** NIHR Open Data (CreateNIHRAwards.ipynb cell 7, ~10.8K after the
    * 2026-07-12 export-endpoint refresh; DHSC-direct rows are split
    * out by the scraper into the CreateDHSCAwards slice): GBP, the
    * programme cascade, plain-English-preferred abstracts, the
    * institution-country array's first element falling back to
    * 'United Kingdom'. */
  def nihr: FunderIngestConfig = {
    val prog = lower(col("programme"))
    val fundingType = likeCascade(prog, Seq(
      "fellowship" -> "fellowship", "senior investigator" -> "fellowship",
      "academic" -> "fellowship", "bridging" -> "fellowship",
      "health technology" -> "research", "research for patient" -> "research",
      "programme grant" -> "research", "efficacy" -> "research",
      "public health" -> "research", "policy" -> "research",
      "global health" -> "research", "delivery" -> "research",
      "invention" -> "research", "infrastructure" -> "infrastructure"), "grant")
    val country = coalesce(
      when(size(col("institution_country")) > 0,
        element_at(col("institution_country"), 1)),
      lit("United Kingdom"))
    val lead = when(col("pi_family_name").isNotNull, investigator(
      col("pi_given_name"), col("pi_family_name"),
      col("contracted_organisation"), country, orcid = col("orcid")))
    FunderIngestConfig(4320319990L, AwardFieldMap(
      provenance = "nihr", priority = 13,
      mintKey = lower(col("project_id")),
      funderAwardId = col("project_id"),
      displayName = col("title"),
      description = coalesce(col("plain_english_abstract"),
        col("scientific_abstract")),
      amount = col("award_amount").try_cast("double"),
      currency = lit("GBP"),
      fundingType = fundingType, funderScheme = col("programme"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("project_id").isNotNull &&
        trim(col("project_id")) =!= ""))
  }

  /** Innovate UK funded projects (CreateInnovateUKAwards.ipynb
    * cell 6, ~41K since 2004): GBP, the product-type cascade with the
    * 'loan' arm, organisation grantees (lead participant = the
    * affiliation, always UK), GtR landing URLs, and the UN-lowered
    * mint (the notebook concats the bare CAST — no LOWER, unlike
    * every sibling). The notebook's extra analysis columns
    * (sector/region/...) are not landed — the INSERT takes only the
    * 24 shared columns. */
  def innovateUk: FunderIngestConfig = {
    val pt = lower(col("product_type"))
    val fundingType =
      when(pt.like("%fellowship%"), "fellowship")
        .when(pt.like("%feasibility%"), "research")
        .when(pt.like("%r&d%") || pt.like("%research%"), "research")
        .when(pt.like("%innovation%"), "research")
        .when(pt.like("%demonstrator%"), "research")
        .when(pt.like("%smart%"), "research")
        .when(pt.like("%knowledge transfer%"), "training")
        .when(pt.like("%loan%"), "loan")
        .otherwise("grant")
    val pn = col("project_number").cast("string")
    val lead = when(col("participant_name").isNotNull, investigator(
      lit(null).cast("string"), lit(null).cast("string"),
      col("participant_name"), lit("United Kingdom")))
    FunderIngestConfig(4320335087L, AwardFieldMap(
      provenance = "innovate_uk", priority = 28,
      mintKey = pn,
      funderAwardId = pn,
      displayName = col("project_title"),
      description = col("public_description"),
      amount = col("award_amount").try_cast("double"),
      currency = lit("GBP"),
      fundingType = fundingType, funderScheme = col("product_type"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://gtr.ukri.org/projects?ref="),
        pn),
      rowFilter = col("project_number").isNotNull))
  }

  /** AEI via the Spanish BDNS subsidies register
    * (CreateAEIAwards.ipynb cell 7, ~28.8K concessions since 2022):
    * EUR, the SUBVENCIÓN/PRÉSTAMO instrument split (case-sensitive
    * accented LIKEs), call title doubling as description, the
    * NIF-prefix strip deriving the beneficiary org name, an
    * UNCONDITIONAL org-affiliation lead struct ('ES' country), BOE
    * legal-basis landing URL, concession date as the start. */
  def aei: FunderIngestConfig = {
    val orgName = trim(regexp_replace(col("beneficiary"),
      "^[A-Z0-9]+\\s+", ""))
    FunderIngestConfig(4320335598L, AwardFieldMap(
      provenance = "bdns_aei", priority = 31,
      mintKey = lower(col("grant_code")),
      funderAwardId = col("grant_code"),
      displayName = col("call_title"), description = col("call_title"),
      amount = col("amount").try_cast("double"), currency = lit("EUR"),
      fundingType = likeCascade(col("instrument_type"), Seq(
        "PRÉSTAMO" -> "loan", "SUBVENCI" -> "grant"), "grant"),
      funderScheme = col("instrument_type"),
      startDate = d(col("grant_date")),
      startYear = col("grant_year").try_cast("int"),
      leadInvestigator = investigator(lit(null).cast("string"),
        lit(null).cast("string"), orgName, lit("ES")),
      landingPageUrl = col("legal_basis_url"),
      rowFilter = col("grant_code").isNotNull &&
        trim(col("grant_code")) =!= ""))
  }

  /** The SweCRIS citable-id strip (the 2026-07-31 award-id audit):
    * `_VR` / `_Vinnova` / `_<agency>` suffixes come off the trimmed
    * project id so the bare diarienummer — the form works cite —
    * ships as the award id. */
  private def swecrisBareId(c: Column): Column =
    regexp_replace(trim(c), "_[A-Za-z]+$", "")

  /** Swedish Research Council / Vetenskapsrådet via SweCRIS
    * (CreateSwedishResearchCouncilAwards.ipynb cell 7, ~23K): SEK,
    * English-preferred text, the award-type cascade, the bare
    * diarienummer award id ([[swecrisBareId]]) while the landing URL
    * keeps the RAW suffixed id. */
  def swedishResearchCouncil: FunderIngestConfig = {
    val ta = lower(col("type_of_award"))
    val fundingType = likeCascade(ta, Seq(
      "positions" -> "fellowship", "stipend" -> "fellowship",
      "infrastructure" -> "infrastructure", "environment" -> "research",
      "project" -> "research", "international" -> "research"), "grant")
    val lead = when(col("pi_family_name").isNotNull &&
        trim(col("pi_family_name")) =!= "",
      investigator(col("pi_given_name"), col("pi_family_name"),
        col("coordinating_organisation"), lit("Sweden"),
        orcid = col("pi_orcid")))
    FunderIngestConfig(4320322581L, AwardFieldMap(
      provenance = "swedish_research_council",
      priority = 15,
      mintKey = lower(swecrisBareId(col("project_id"))),
      funderAwardId = swecrisBareId(col("project_id")),
      displayName = coalesce(col("title_english"), col("title")),
      description = coalesce(col("abstract_english"), col("abstract")),
      amount = col("amount").try_cast("double"), currency = lit("SEK"),
      fundingType = fundingType, funderScheme = col("type_of_award"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://www.vr.se/swecris#/project/"),
        col("project_id")),
      rowFilter = col("project_id").isNotNull &&
        trim(col("project_id")) =!= ""))
  }

  /** Vinnova via SweCRIS (CreateVinnovaAwards.ipynb cell 7, ~24K):
    * SEK, English-preferred text, the bare-diarienummer strip, the
    * full PI name stored in family_name with the ORCID URL prefix
    * normalize and role_start = project start. */
  def vinnova: FunderIngestConfig = {
    val orcid = when(col("pi_orcid").isNotNull && trim(col("pi_orcid"))
        =!= "", concat(lit("https://orcid.org/"), trim(col("pi_orcid"))))
    val lead = when(col("pi_name").isNotNull && trim(col("pi_name")) =!= "",
      investigator(lit(null).cast("string"), trim(col("pi_name")),
        trim(col("coordinatingorganisationnameen")), lit("Sweden"),
        orcid = orcid, roleStart = d(col("projectstartdate"))))
    FunderIngestConfig(4320321030L, AwardFieldMap(
      provenance = "swecris_vinnova", priority = 9,
      mintKey = lower(swecrisBareId(col("projectid"))),
      funderAwardId = swecrisBareId(col("projectid")),
      displayName = coalesce(col("projecttitleen"), col("projecttitlesv")),
      description = coalesce(col("projectabstracten"),
        col("projectabstractsv")),
      amount = col("fundingssek").try_cast("double"),
      currency = lit("SEK"),
      fundingType = lit("grant"),
      funderScheme = col("typeofawarddescren"),
      startDate = d(col("projectstartdate")),
      endDate = d(col("projectenddate")),
      startYear = year(d(col("projectstartdate"))),
      endYear = year(d(col("projectenddate"))),
      leadInvestigator = lead,
      landingPageUrl = lit("https://www.vr.se/english/swecris.html"),
      rowFilter = col("projectid").isNotNull &&
        trim(col("projectid")) =!= ""))
  }

  /** FCT / Fundação para a Ciência e a Tecnologia
    * (CreateFCTAwards.ipynb cell 6, 7,569 Projetos de I&D): the
    * NCN/RAD-on pattern twin — 'FCT grant <id>' title fallback, the
    * >0 amount gate with source-carried currency, the
    * name-else-institution lead fallback ('Portugal'), and the NULL
    * works_api_url deviation. */
  def fct: FunderIngestConfig = {
    val amt = col("amount").try_cast("decimal(18,2)")
    val lead = when(col("pi_family").isNotNull, investigator(col("pi_given"),
      col("pi_family"), col("institution"), lit("Portugal")))
      .when(col("institution").isNotNull, investigator(lit(null).cast("string"),
        lit(null).cast("string"), col("institution"), lit("Portugal")))
    FunderIngestConfig(4320334779L, AwardFieldMap(
      provenance = "fct", priority = 385,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(
        when(trim(col("title")) =!= "", trim(col("title"))),
        concat(lit("FCT grant "), col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt.cast("double")),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"), funderScheme = col("scheme"),
      startDate = d(col("start_date_raw")),
      endDate = d(col("end_date_raw")),
      startYear = year(d(col("start_date_raw"))),
      endYear = year(d(col("end_date_raw"))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull,
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Research Council of Norway Project Bank
    * (CreateResearchCouncilNorwayAwards.ipynb cell 13, ~45K FORISS
    * projects): NOK gated on amount presence, the five-segment
    * labelled description assembly (pop-sci / summary / teaser /
    * disciplines / geographies, blank-collapsed), 1800-2100
    * year-validity screens on every date/year, the lead struct fired
    * by EITHER a leader name OR an affiliation (family falls back to
    * the full name; country 'NO' only when the affiliation is
    * present), role_start = project start. */
  def researchCouncilNorway: FunderIngestConfig = {
    def nz(c: Column) = when(trim(c) =!= "", trim(c))
    def seg(label: String, c: Column) =
      when(nz(c).isNotNull, concat(lit(label), trim(c)))
    val desc = concat_ws("\n\n",
      seg("Popular science description: ", col("pop_sci_description")),
      seg("Project summary: ", col("project_summary")),
      seg("Teaser: ", col("teaser")),
      seg("Disciplines: ", col("disciplines_json")),
      seg("Geographies: ", col("geographies_json")))
    def vd(c: Column) = when(year(d(c)).between(1800, 2100), d(c))
    def vy(c: Column) = when(c.try_cast("int").between(1800, 2100),
      c.try_cast("int"))
    val given = nz(col("lead_given_name"))
    val family = nz(col("lead_family_name"))
    val full = nz(col("lead_name"))
    val aff = nz(col("primary_organization"))
    val amt = col("total_funding").try_cast("double")
    val lead = when(full.isNotNull || aff.isNotNull, investigator(given,
      coalesce(family, full), aff, when(aff.isNotNull, lit("NO")),
      roleStart = vd(col("start_date"))))
    FunderIngestConfig(4320323299L, AwardFieldMap(
      provenance = "research_council_norway_project_bank", priority = 130,
      mintKey = lower(trim(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = when(desc =!= "", desc),
      amount = amt,
      currency = when(amt.isNotNull, lit("NOK")),
      fundingType = lit("research"),
      funderScheme = nz(col("current_activity_code")),
      startDate = vd(col("start_date")), endDate = vd(col("end_date")),
      startYear = vy(col("start_year")), endYear = vy(col("end_year")),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("display_name").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-12 tranche (VERDICT r11 ask #3): ISCIII, FWO, SFI,
  // Marie Curie, MRFF, Business Finland, TUBITAK, NCBR, GACR, Formas
  // ---------------------------------------------------------------

  /** ISCIII / Instituto de Salud Carlos III via Portal FIS
    * (CreateISCIIIAwards.ipynb cell 6, ~8.8K Spanish health
    * projects): EUR default currency, the project-id-prefix→type
    * cascade (FI/CP fellowships, RD centers, DTS infrastructure),
    * 'ES' country lead. */
  def isciii: FunderIngestConfig = {
    val pid = col("project_id")
    val fundingType =
      when(pid.like("FI%"), "fellowship")
        .when(pid.like("CP%"), "fellowship")
        .when(pid.like("RD%"), "center")
        .when(pid.like("DTS%"), "infrastructure")
        .when(pid.like("PI%"), "grant")
        .when(pid.like("AC%"), "grant")
        .when(pid.like("COV%"), "grant")
        .otherwise("grant")
    val lead = when(col("pi_family_name").isNotNull,
      investigator(col("pi_given_name"), col("pi_family_name"),
        col("institution"), lit("ES")))
    FunderIngestConfig(4320334923L, AwardFieldMap(
      provenance = "portal_fis_isciii",
      priority = 33,
      mintKey = lower(pid),
      funderAwardId = pid,
      displayName = col("title"), description = col("abstract"),
      amount = col("amount").try_cast("double"),
      currency = coalesce(col("currency"), lit("EUR")),
      fundingType = fundingType, funderScheme = col("funder_scheme"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = pid.isNotNull && trim(pid) =!= ""))
  }

  /** The FRIS project archetype (the Flanders Research Information
    * Space serves FOUR funding parties from one web service — FWO,
    * Vlaamse Regering, VLAIO, BELSPO — each notebook an exact twin):
    * the §6.7 budget waiver (amount/currency NULL), the future-year
    * cap (start_year > now+1 NULLs BOTH years, both gated on the
    * start date), promoter lead + co-promoter co-lead with the
    * source-carried country. */
  private def frisProject(funderId: Long, provenance: String,
      priority: Int, currentYear: Int): FunderIngestConfig = {
    val sd = d(col("start_date"))
    val ed = d(col("end_date"))
    val future = year(sd) > currentYear + 1
    def promoter(g: Column, fam: Column): Column =
      when(g.isNotNull || fam.isNotNull,
        investigator(g, fam, col("institution_name"), col("country")))
    FunderIngestConfig(funderId, AwardFieldMap(
      provenance = provenance, priority = priority,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"), description = col("abstract"),
      fundingType = col("funding_type"),
      funderScheme = col("funder_scheme"),
      startDate = sd, endDate = ed,
      startYear = when(!future, year(sd)),
      endYear = when(!future, year(ed)),
      leadInvestigator =
        promoter(col("lead_given_name"), col("lead_family_name")),
      coLeadInvestigator =
        promoter(col("colead_given_name"), col("colead_family_name")),
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull))
  }

  /** FWO / Research Foundation - Flanders via FRIS
    * (CreateFWOAwards.ipynb cell 12, ~60-65K Flemish projects): the
    * [[frisProject]] archetype at the FWO slice. */
  def fwo(currentYear: Int): FunderIngestConfig =
    frisProject(4320321730L, "fwo_fris", 167, currentYear)

  /** Vlaamse Regering / Flemish Government via FRIS
    * (CreateVlaamseRegeringAwards.ipynb): [[frisProject]] twin. */
  def vlaamseRegering(currentYear: Int): FunderIngestConfig =
    frisProject(4320327336L, "vlaamse_regering_fris", 177, currentYear)

  /** VLAIO / Flanders Innovation & Entrepreneurship via FRIS
    * (CreateVLAIOAwards.ipynb): [[frisProject]] twin. */
  def vlaio(currentYear: Int): FunderIngestConfig =
    frisProject(4320321732L, "vlaio_fris", 179, currentYear)

  /** BELSPO / Belgian Science Policy Office via FRIS
    * (CreateBELSPOAwards.ipynb): [[frisProject]] twin. */
  def belspo(currentYear: Int): FunderIngestConfig =
    frisProject(4320321454L, "belspo_fris", 181, currentYear)

  /** SFI / Science Foundation Ireland open data
    * (CreateSFIAwards.ipynb cell 11): NULL description, the
    * amount-gated source currency, the 'sfi'-asserted ROR
    * affiliation id, name-OR-institution lead, NULL landing page,
    * the shared future-year cap. */
  def sfi(currentYear: Int): FunderIngestConfig = {
    val sd = d(col("start_date"))
    val ed = d(col("end_date"))
    val future = year(sd) > currentYear + 1
    val amt = col("amount").try_cast("double")
    val rorIds = when(col("institution_ror").isNotNull,
      array(struct(col("institution_ror").as("id"), lit("ror").as("type"),
        lit("sfi").as("asserted_by"))))
      .otherwise(lit(null).cast(affIds))
    val lead = when(col("lead_given_name").isNotNull ||
        col("lead_family_name").isNotNull ||
        col("institution_name").isNotNull,
      investigator(col("lead_given_name"), col("lead_family_name"),
        col("institution_name"), col("country"), orcid = col("lead_orcid"),
        ids = rorIds))
    FunderIngestConfig(4320320847L, AwardFieldMap(
      provenance = "sfi_open_data", priority = 169,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = amt,
      currency = when(amt.isNotNull, col("currency")),
      fundingType = col("funding_type"),
      funderScheme = col("funder_scheme"),
      startDate = sd, endDate = ed,
      startYear = when(!future, year(sd)),
      endYear = when(!future, year(ed)),
      leadInvestigator = lead,
      rowFilter = col("funder_award_id").isNotNull))
  }

  /** Marie Curie (UK) fellowship register
    * (CreateMarieCurieAwards.ipynb cell 7): an all-constant shape —
    * NULL description/amount/dates/years, literal 'grant', programme
    * scheme, 'United Kingdom' lead country, and the NULL
    * works_api_url deviation; no row filter in the reference. */
  def marieCurie: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United Kingdom")))
    FunderIngestConfig(4320320217L, AwardFieldMap(
      provenance = "marie_curie", priority = 261,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("grant"),
      funderScheme = col("programme"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** The MRFF funder row is MISSING from the registry (the
    * reference's flagged gap) — CreateMRFFAwards.ipynb cell 6 inlines
    * it with a Crossref-carried DOI and a NULL ROR; pass this as the
    * `funders` frame so [[FunderIngest.requireFunder]] still
    * fail-fasts on the literal row. */
  def mrffFunderLookup(spark: SparkSession): DataFrame =
    FunderIngest.inlineFunders(spark, Seq(
      (4906014721L, "Medical Research Future Fund", None,
        "10.13039/501100025520")))

  /** MRFF / Medical Research Future Fund (CreateMRFFAwards.ipynb
    * cell 6): the title→scheme→'MRFF grant: <inst>'→award-id display
    * cascade, AUD decimal amounts, 'Australia' lead country, NULL
    * works_api_url; no row filter in the reference. */
  def mrff: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("Australia")))
    FunderIngestConfig(4906014721L, AwardFieldMap(
      provenance = "mrff", priority = 351,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("title")), lit("")),
        col("scheme"),
        concat(lit("MRFF grant: "), col("institution")),
        col("funder_award_id")),
      description = col("description"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("AUD"),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startDate = d(col("start_date_raw")), endDate = d(col("end_date_raw")),
      startYear = year(d(col("start_date_raw"))),
      endYear = year(d(col("end_date_raw"))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** The Business Finland / Tekes era-funder pair
    * (CreateBusinessFinlandAwards.ipynb cell 8's `bf_funders` CTE) —
    * feed to [[FunderIngest.requireFunders]]. */
  def businessFinlandFunderIds: Seq[Long] = Seq(4320321855L, 4320328501L)

  /** Business Finland / Tekes (CreateBusinessFinlandAwards.ipynb
    * cell 8, resolved §2.3.2 multi-funder: the source carries the era
    * funder id per row): the programme—organisation (diary) display
    * concat, the 'Luottamuksellinen' confidential-amount NULL and the
    * zero-amount NULL, decision-year-only dates, no investigators. */
  def businessFinland: ResolvedFunderIngestConfig = {
    val diary = trim(col("diary_number"))
    val resolved = col("openalex_funder_id").try_cast("bigint")
    ResolvedFunderIngestConfig(resolved, AwardFieldMap(
      provenance = "business_finland", priority = 433,
      mintKey = lower(diary),
      funderAwardId = diary,
      displayName = concat(
        coalesce(nullif(trim(col("program")), lit("")),
          nullif(trim(col("funding_service")), lit("")),
          lit("Public research project")),
        lit(" — "),
        coalesce(nullif(trim(col("organisation")), lit("")),
          lit("unknown organisation")),
        lit(" ("), diary, lit(")")),
      description = nullif(trim(col("abstract_fi")), lit("")),
      amount = when(col("amount_eur") === "Luottamuksellinen",
          lit(null).cast("double"))
        .otherwise(nullif(col("amount_eur").try_cast("double"), lit(0.0))),
      currency = lit("EUR"),
      fundingType = lit("research"),
      funderScheme = coalesce(nullif(trim(col("funding_service")), lit("")),
        nullif(trim(col("program")), lit(""))),
      startDate = d(concat(col("decision_year"), lit("-01-01"))),
      startYear = col("decision_year").try_cast("int"),
      rowFilter = col("diary_number").isNotNull && diary =!= ""))
  }

  /** The TRDizin other-investigators JSON shape
    * (CreateTUBITAKAwards.ipynb cell 19's FROM_JSON schema). */
  private def trdizinContributors: String =
    "array<struct<name:string,given_name:string,family_name:string," +
      "orcid:string,duty:string,order:string,role_start:string," +
      "institution_name:string,institution_title:string," +
      "institution_root_title:string,institution_country:string>>"

  /** TUBITAK via TRDizin (CreateTUBITAKAwards.ipynb cell 19): the
    * title-required row screen, the 1900/future publication-year
    * scrub feeding the year COALESCEs, trimmed-NULLIF name fields
    * with role_start = project start, and the JSON-parsed
    * other-investigators list (NULL affiliation slots). */
  def tubitak(currentYear: Int): FunderIngestConfig = {
    val py = col("publication_year").try_cast("int")
    val pubYear = when(py === 1900, lit(null).cast("int"))
      .when(py > currentYear + 1, lit(null).cast("int"))
      .otherwise(py)
    val sd = d(col("start_date"))
    val ed = d(col("end_date"))
    val lead = when(col("lead_name").isNotNull &&
        trim(col("lead_name")) =!= "",
      investigator(nzt(col("lead_given_name")), nzt(col("lead_family_name")),
        lit(null).cast("string"), lit(null).cast("string"),
        orcid = nzt(col("lead_orcid")), roleStart = sd))
    val oc = from_json(col("other_investigators_json"),
      org.apache.spark.sql.types.DataType.fromDDL(trdizinContributors))
    val invs = when(oc.isNotNull && size(oc) > 0,
      transform(oc, c => investigator(nzt(c.getField("given_name")),
        nzt(c.getField("family_name")), lit(null).cast("string"),
        lit(null).cast("string"), orcid = nzt(c.getField("orcid")),
        roleStart = sd)))
      .otherwise(FunderIngest.nullInvestigators)
    FunderIngestConfig(4320322626L, AwardFieldMap(
      provenance = "trdizin_tubitak_projects",
      priority = 200,
      mintKey = lower(trim(col("funder_award_id"))),
      funderAwardId = trim(col("funder_award_id")),
      displayName = trim(col("display_name")),
      description = nzt(col("description")),
      fundingType = lit("research"),
      funderScheme = coalesce(nzt(col("project_group")),
        lit("TRDizin PROJECT")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), pubYear),
      endYear = coalesce(year(ed), pubYear),
      leadInvestigator = lead,
      landingPageUrl = nzt(col("landing_page_url")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull && trim(col("display_name")) =!= "",
      investigators = invs))
  }

  /** NCBR / Narodowe Centrum Badań i Rozwoju (CreateNCBRAwards.ipynb
    * cell 8): EN-preferred trimmed text, the zero-amount PLN NULL,
    * manager lead with the manager→leader institution fallback,
    * 'Poland' country, NULL landing page. */
  def ncbr: FunderIngestConfig = {
    val lead = when(col("manager_last_name").isNotNull &&
        trim(col("manager_last_name")) =!= "",
      investigator(nzt(col("manager_first_name")),
        trim(col("manager_last_name")),
        coalesce(nzt(col("manager_institution")),
          nzt(col("leader_institution"))), lit("Poland")))
    FunderIngestConfig(4320335039L, AwardFieldMap(
      provenance = "ncbr", priority = 431,
      mintKey = lower(trim(col("project_number"))),
      funderAwardId = trim(col("project_number")),
      displayName = coalesce(nzt(col("title_en")), nzt(col("title_pl"))),
      description = coalesce(nzt(col("abstract_en")),
        nzt(col("abstract_pl"))),
      amount = nullif(col("amount_pln").try_cast("double"), lit(0.0)),
      currency = lit("PLN"),
      fundingType = lit("research"),
      funderScheme = nzt(col("scheme")),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      rowFilter = col("project_number").isNotNull &&
        trim(col("project_number")) =!= ""))
  }

  /** The shared IS VaVaI CEP open-data shape (the Czech research
    * information system feeds GACR/MZE/MVCR/MPO from ONE CSV, each
    * notebook an exact twin filtered to its ministry): EN→CS→generic
    * text fallbacks, state-support-else-total-cost CZK amounts,
    * date-or-year-boundary dates with source-carried years, an
    * institution-only lead with the CZ country expansion and
    * 'isvavai'-asserted ROR. Only (funder, provenance, priority,
    * type, scheme) vary per ministry. */
  private def isvavaiCep(funderId: Long, provenance: String,
      priority: Int, fundingType: Column,
      funderScheme: Column): FunderIngestConfig = {
    val rorIds = when(col("ror_id").isNotNull,
      array(struct(col("ror_id").as("id"), lit("ror").as("type"),
        lit("isvavai").as("asserted_by"))))
      .otherwise(lit(null).cast(affIds))
    val lead = when(col("institution_name").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("institution_name"),
        when(col("institution_country") === "CZ", "Czech Republic")
          .otherwise(col("institution_country")), ids = rorIds))
    FunderIngestConfig(funderId, AwardFieldMap(
      provenance = provenance, priority = priority,
      mintKey = lower(col("project_code")),
      funderAwardId = col("project_code"),
      displayName = coalesce(nullif(trim(col("title_en")), lit("")),
        col("title_cs"), col("title")),
      description = coalesce(nullif(trim(col("description_en")), lit("")),
        col("description_cs"), col("description")),
      amount = coalesce(col("funding_amount"), col("total_cost")),
      currency = lit("CZK"),
      fundingType = fundingType, funderScheme = funderScheme,
      startDate = when(col("start_date").isNotNull, d(col("start_date")))
        .when(col("start_year").try_cast("int").isNotNull,
          d(concat(col("start_year"), lit("-01-01")))),
      endDate = when(col("end_date").isNotNull, d(col("end_date")))
        .when(col("end_year").try_cast("int").isNotNull,
          d(concat(col("end_year"), lit("-12-31")))),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("project_code").isNotNull))
  }

  /** GACR / Grantová Agentura České Republiky via IS VaVaI CEP
    * (CreateGACRAwards.ipynb cell 7): the [[isvavaiCep]] shape with
    * the GJ/GP fellowship split and the program-code→scheme-name
    * map. */
  def gacr: FunderIngestConfig = {
    val pc = upper(col("program_code"))
    val fundingType = when(pc.isin("GJ", "GP"), "fellowship")
      .otherwise("grant")
    val scheme = when(col("program_code") === "GA", "Standard Projects")
      .when(col("program_code") === "GJ", "Junior Grants")
      .when(col("program_code") === "GP", "Postdoc Grants")
      .when(col("program_code") === "GX", "EXPRO Excellence Projects")
      .when(col("program_code") === "GM", "International Projects")
      .when(col("program_code") === "GC", "International Collaboration")
      .when(col("program_code") === "GB", "Center of Excellence")
      .when(col("program_code") === "GD", "Bilateral Projects")
      .when(col("program_code") === "GF", "LA Projects")
      .otherwise(col("program_code"))
    isvavaiCep(4320321006L, "isvavai_cep", 34, fundingType, scheme)
  }

  /** MZE / Ministerstvo Zemědělství (CreateMZEAwards.ipynb cell 6,
    * ~21.6K NAZV/KUS agriculture projects): the [[isvavaiCep]] twin —
    * literal 'grant', raw programme-code scheme. */
  def mze: FunderIngestConfig =
    isvavaiCep(4320323938L, "isvavai_cep_mze", 227, lit("grant"),
      col("program_code"))

  /** MVCR / Ministerstvo Vnitra České Republiky
    * (CreateMVCRAwards.ipynb, ~21.6K VI/VJ security-research
    * projects): the [[isvavaiCep]] twin. */
  def mvcr: FunderIngestConfig =
    isvavaiCep(4320311333L, "isvavai_cep_mvcr", 231, lit("grant"),
      col("program_code"))

  /** MPO / Ministerstvo Průmyslu a Obchodu (CreateMPOAwards.ipynb,
    * ~21.6K TRIO/FV/FW applied-research projects): the
    * [[isvavaiCep]] twin. */
  def mpo: FunderIngestConfig =
    isvavaiCep(4320322741L, "isvavai_cep_mpo", 229, lit("grant"),
      col("program_code"))

  /** Formas / Svenska Forskningsrådet Formas via SweCRIS
    * (CreateFormasAwards.ipynb cell 7): the VR pattern twin — SEK,
    * English-preferred text, the same award-type cascade, the bare
    * diarienummer ([[swecrisBareId]]) with the RAW suffixed id kept
    * in the landing URL. */
  def formas: FunderIngestConfig = {
    val ta = lower(col("type_of_award"))
    val fundingType = likeCascade(ta, Seq(
      "positions" -> "fellowship", "stipend" -> "fellowship",
      "infrastructure" -> "infrastructure", "environment" -> "research",
      "project" -> "research", "international" -> "research"), "grant")
    val lead = when(col("pi_family_name").isNotNull &&
        trim(col("pi_family_name")) =!= "",
      investigator(col("pi_given_name"), col("pi_family_name"),
        col("coordinating_organisation"), lit("Sweden"),
        orcid = col("pi_orcid")))
    FunderIngestConfig(4320321033L, AwardFieldMap(
      provenance = "formas", priority = 16,
      mintKey = lower(swecrisBareId(col("project_id"))),
      funderAwardId = swecrisBareId(col("project_id")),
      displayName = coalesce(col("title_english"), col("title")),
      description = coalesce(col("abstract_english"), col("abstract")),
      amount = col("amount").try_cast("double"), currency = lit("SEK"),
      fundingType = fundingType, funderScheme = col("type_of_award"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://www.vr.se/swecris#/project/"),
        col("project_id")),
      rowFilter = col("project_id").isNotNull &&
        trim(col("project_id")) =!= ""))
  }

  // ---------------------------------------------------------------
  // Round-12 second tranche by volume: PCORI, MinSanteFr, RFBR,
  // FMFC, NEH, RWJF, Humboldt, CDMRP, MZE, MVCR, MPO
  // ---------------------------------------------------------------

  /** PCORI / Patient-Centered Outcomes Research Institute
    * (CreatePCORIAwards.ipynb cell 7, 2,683 projects, USD median
    * ~349K): NULL description, decimal USD, 'research', start_year
    * only, 'United States' lead country, NULL works_api_url; no row
    * filter in the reference. */
  def pcori: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United States")))
    FunderIngestConfig(4320308927L, AwardFieldMap(
      provenance = "pcori", priority = 345,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("USD"),
      fundingType = lit("research"),
      funderScheme = col("funder_scheme"),
      startDate = when(sy.isNotNull,
        d(concat(sy.cast("string"), lit("-01-01")))),
      startYear = sy,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Ministère des Affaires sociales et de la Santé (France), SIRANO
    * PHRC/PHRIP/PREPS/PRT calls (CreateMinSanteFrAwards.ipynb cell 7,
    * 3,689 grants, EUR median ~338K): the PCORI twin with EUR,
    * 'grant', 'France', and a NULL landing page. */
  def minSanteFr: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("France")))
    FunderIngestConfig(4320322734L, AwardFieldMap(
      provenance = "min_sante_fr", priority = 333,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("EUR"),
      fundingType = lit("grant"),
      funderScheme = col("funder_scheme"),
      startDate = when(sy.isNotNull,
        d(concat(sy.cast("string"), lit("-01-01")))),
      startYear = sy,
      leadInvestigator = lead,
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** RFBR / Russian Foundation for Basic Research legacy portal
    * archive (CreateRFBRAwards.ipynb cell 12, ~250K funded 1993-2018
    * grants): the §6.7 amount waiver (portal publishes none), the
    * funded-status belt-and-braces screen ('поддержана' only —
    * rejected applications are NOT awards), year-only coverage,
    * trimmed-NULLIF lead with no host org and 'RU'. */
  def rfbr: FunderIngestConfig = {
    val lead = when(col("lead_family_name").isNotNull &&
        col("lead_family_name") =!= "",
      investigator(nullif(trim(col("lead_given_name")), lit("")),
        trim(col("lead_family_name")), lit(null).cast("string"), lit("RU")))
    FunderIngestConfig(4320321079L, AwardFieldMap(
      provenance = "rfbr", priority = 401,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      fundingType = lit("research"),
      funderScheme = col("funder_scheme"),
      startYear = col("start_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("display_name").isNotNull && col("status") === "поддержана"))
  }

  /** FMFC / Financial Markets Foundation for Children
    * (CreateFMFCAwards.ipynb cell 7, ~168 child-health projects):
    * AUD decimal, NULL description/scheme/dates, 'Australia' lead,
    * NULL works_api_url; no row filter in the reference. */
  def fmfc: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("Australia")))
    FunderIngestConfig(4320323274L, AwardFieldMap(
      provenance = "fmfc", priority = 329,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("AUD"),
      fundingType = lit("grant"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** NEH / National Endowment for the Humanities bulk open data
    * (CreateNEHAwards.ipynb cell 12, ~57K grants 1965-present): the
    * fellowship/training programme cascade, source-carried currency,
    * year_awarded start_year with an end-date-substring end_year,
    * full-name-gated lead with role_start = grant begin and the
    * source-carried institution country. */
  def neh: FunderIngestConfig = {
    val prog = lower(col("program"))
    val fundingType = when(prog.like("%fellowship%"), "fellowship")
      .when(prog.like("%training%") || prog.like("%institute%"), "training")
      .otherwise("research")
    val sd = d(col("begin_grant"))
    val lead = when(col("lead_full_name").isNotNull &&
        col("lead_full_name") =!= "",
      investigator(col("lead_given_name"), col("lead_family_name"),
        col("institution"), col("inst_country"), roleStart = sd))
    FunderIngestConfig(4320306100L, AwardFieldMap(
      provenance = "neh_open_data", priority = 81,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("project_title"),
      description = col("description"),
      amount = col("amount_usd").try_cast("double"),
      currency = col("currency"),
      fundingType = fundingType,
      funderScheme = col("program"),
      startDate = sd, endDate = d(col("end_grant")),
      startYear = col("year_awarded").try_cast("int"),
      endYear = substring(col("end_grant"), 1, 4).try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("project_title").isNotNull))
  }

  /** The RWJF surrogate-id stage (CreateRWJFAwards.ipynb cell 9's
    * `src` CTE): the grants explorer publishes NO native grant id, so
    * the reference mints a row surrogate from the listing fields plus
    * `monotonically_increasing_id()` (the scrape can carry true
    * duplicate listings that must stay distinct rows). Run this over
    * the raw landing BEFORE [[rwjf]]. */
  def rwjfSurrogate(raw: DataFrame): DataFrame =
    raw.filter(col("grant_title").isNotNull && trim(col("grant_title"))
        =!= "")
      .withColumn("surrogate_id", pmod(abs(xxhash64(concat(
        coalesce(col("grant_title"), lit("")), lit(":"),
        coalesce(col("year_awarded"), lit(0)).cast("string"), lit(":"),
        coalesce(col("amount_usd").cast("string"), lit("")), lit(":"),
        coalesce(col("location"), lit("")), lit(":"),
        col("page").cast("string"), lit(":"),
        monotonically_increasing_id().cast("string")))),
        lit(9000000000L)))

  /** RWJF / Robert Wood Johnson Foundation grants explorer
    * (CreateRWJFAwards.ipynb cell 9, ~31.7K grants): the ':rwj:'
    * surrogate mint ([[rwjfSurrogate]] first), year-boundary dates
    * BOTH from year_awarded, the multi-line programme-area collapse,
    * an UNCONDITIONAL all-null lead carrying only the location's
    * last 'City, ST' token as country, and the page-anchored landing
    * URL. */
  def rwjf: FunderIngestConfig = {
    val lead = investigator(lit(null).cast("string"), lit(null).cast("string"),
      lit(null).cast("string"), element_at(split(col("location"), ", "), -1))
    FunderIngestConfig(4320306139L, AwardFieldMap(
      provenance = "rwjf_grants_explorer",
      priority = 46,
      mintKey = concat(lit("rwj:"), col("surrogate_id").cast("string")),
      funderAwardId = col("surrogate_id").cast("string"),
      displayName = col("grant_title"),
      amount = col("amount_usd"),
      currency = lit("USD"),
      fundingType = lit("grant"),
      funderScheme = when(col("program_area").isNotNull &&
          trim(col("program_area")) =!= "",
        regexp_replace(col("program_area"), "[\\n\\r]+", " / ")),
      startDate = when(col("year_awarded").isNotNull,
        d(concat(col("year_awarded").cast("string"), lit("-01-01")))),
      endDate = when(col("year_awarded").isNotNull,
        d(concat(col("year_awarded").cast("string"), lit("-12-31")))),
      startYear = col("year_awarded"),
      endYear = col("year_awarded"),
      leadInvestigator = lead,
      landingPageUrl = concat(
        lit("https://www.rwjf.org/en/grants/awarded-grants.html?s="),
        col("page").cast("string")),
      rowFilter = lit(true)))
  }

  /** Humboldt / Alexander von Humboldt-Stiftung network DB
    * (CreateHumboldtAwards.ipynb cell 6, ~28K fellowships): the
    * 'Humboldt grant <id>' title fallback, the >0 amount gate with
    * source-carried currency (§6.7 fellowship waiver in practice),
    * selection-year-only start_year, the name-else-institution lead
    * fallback ('Germany'), NULL works_api_url. */
  def humboldt: FunderIngestConfig = {
    val amt = col("amount").try_cast("decimal(18,2)")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("Germany")))
      .when(col("institution").isNotNull,
        investigator(lit(null).cast("string"), lit(null).cast("string"),
          col("institution"), lit("Germany")))
    FunderIngestConfig(4320308269L, AwardFieldMap(
      provenance = "humboldt", priority = 383,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("title")), lit("")),
        concat(lit("Humboldt grant "), col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startYear = year(d(col("start_date_raw"))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull,
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** CDMRP / Congressionally Directed Medical Research Programs via
    * the Dimensions-for-DTIC instance (CreateCDMRPAwards.ipynb
    * cell 7, ~23.7K grants — the dedicated source that overrides the
    * DoD USAspending aggregator rows at lower priority): USD-default
    * currency, INITCAP'd PI names, the institution→pi_affiliation
    * fallback, 10-char date substrings, NULL works_api_url; no row
    * filter in the reference. */
  def cdmrp: FunderIngestConfig = {
    val sd = d(substring(col("start_date"), 1, 10))
    val ed = d(substring(col("end_date"), 1, 10))
    val lead = when(col("pi_last_name").isNotNull,
      investigator(initcap(col("pi_first_name")), initcap(col("pi_last_name")),
        coalesce(col("institution"), col("pi_affiliation")),
        col("institution_country")))
    FunderIngestConfig(4320338273L, AwardFieldMap(
      provenance = "dimensions_cdmrp",
      priority = 237,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("short_abstract"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = coalesce(nullif(trim(col("currency")), lit("")),
        lit("USD")),
      fundingType = lit("grant"),
      funderScheme = col("program"),
      startDate = sd, endDate = ed,
      startYear = year(sd), endYear = year(ed),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  // ---------------------------------------------------------------
  // Round-12 third tranche by volume: MacArthur, Guggenheim,
  // Argentina MINCYT, RSCF, CFI, Hewlett, ARIS, AMED, AHA, Carnegie
  // ---------------------------------------------------------------

  /** MacArthur Fellows ("genius grants",
    * CreateMacArthurFellowsAwards.ipynb cell 13, 1,174 fellows
    * 1981-2025): person-level fellowship rows — literal scheme,
    * source-carried amount/currency and self-reported country,
    * role_start = award start, substring years. (The reference's
    * transform also carries a `declined` passthrough column its
    * landing INSERT drops — not part of the 24-column award shape.) */
  def macArthurFellows: FunderIngestConfig = {
    val sd = d(col("start_date"))
    val lead = when(col("name").isNotNull && col("name") =!= "",
      investigator(col("given_name"), col("family_name"), col("affiliation"),
        col("country"), roleStart = sd))
    FunderIngestConfig(4320306142L, AwardFieldMap(
      provenance = "macarthur_fellows",
      priority = 104,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("fellowship"),
      funderScheme = lit("MacArthur Fellowship"),
      startDate = sd, endDate = d(col("end_date")),
      startYear = substring(col("start_date"), 1, 4).try_cast("int"),
      endYear = substring(col("end_date"), 1, 4).try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("name").isNotNull))
  }

  /** Guggenheim Fellowship directory
    * (CreateGuggenheimAwards.ipynb cell 12, ~19.8K fellows since
    * 1925): the 'Guggenheim Fellowship - <name> (<year>)' display
    * assembly, §6.7 fellowship waiver, NULL scheme (discipline is
    * client-side only — never guessed), names-only lead with a fully
    * NULL affiliation's fields. */
  def guggenheim: FunderIngestConfig = {
    val lead = when(col("family_name").isNotNull ||
        col("given_name").isNotNull,
      investigator(col("given_name"), col("family_name"),
        lit(null).cast("string"), lit(null).cast("string")))
    FunderIngestConfig(4320308774L, AwardFieldMap(
      provenance = "guggenheim_fellowship",
      priority = 163,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Guggenheim Fellowship - "),
        col("fellow_name"),
        when(col("start_year").isNotNull,
          concat(lit(" ("), col("start_year"), lit(")")))
          .otherwise(lit(""))),
      fundingType = lit("fellowship"),
      startYear = col("start_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull))
  }

  /** The MINCYT fuente→funder trio
    * (CreateArgentinaMINCYTAwards.ipynb cell 10's VALUES map). */
  def argentinaMincytFunderIds: Seq[Long] =
    Seq(4320334832L, 4320321594L, 4320326565L)

  /** Argentina MINCYT CKAN projects (resolved §2.3.2 multi-funder,
    * CreateArgentinaMINCYTAwards.ipynb cell 10, ~19.3K 2008-2019):
    * `proyecto_fuente` routes ANPCYT/CONICET/INTA (others dropped),
    * the surrogate proyecto_id mints while codigo_identificacion is
    * preferred as the award id, total-awarded ARS amounts, dual
    * yyyy/MM/dd-or-yyyy-MM-dd date parse, an UNCONDITIONAL all-null
    * 'AR' lead, the per-year CKAN landing URL. */
  def argentinaMincyt: ResolvedFunderIngestConfig = {
    def d2(c: Column): Column = {
      val s = substring(c, 1, 10)
      coalesce(to_date(try_to_timestamp(s, lit("yyyy/MM/dd"))),
        to_date(try_to_timestamp(s, lit("yyyy-MM-dd"))))
    }
    val lead = investigator(lit(null).cast("string"), lit(null).cast("string"),
      lit(null).cast("string"), lit("AR"))
    val resolved = when(col("proyecto_fuente") === "ANPCYT",
        4320334832L)
      .when(col("proyecto_fuente") === "CONICET", 4320321594L)
      .when(col("proyecto_fuente") === "INTA", 4320326565L)
    ResolvedFunderIngestConfig(resolved, AwardFieldMap(
      provenance = "argentina_mincyt", priority = 43,
      mintKey = lower(col("proyecto_id").cast("string")),
      funderAwardId = coalesce(col("codigo_identificacion"),
        col("proyecto_id").cast("string")),
      displayName = col("titulo"),
      description = col("resumen"),
      amount = col("monto_total_adjudicado").try_cast("double"),
      currency = lit("ARS"),
      fundingType = lit("research"),
      funderScheme = col("proyecto_fuente"),
      startDate = d2(col("fecha_inicio")),
      endDate = d2(col("fecha_finalizacion")),
      startYear = year(d2(col("fecha_inicio"))),
      endYear = year(d2(col("fecha_finalizacion"))),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://datos.gob.ar/dataset/" +
        "mincyt-proyectos-ciencia-tecnologia-innovacion/archivo/" +
        "proyectos_"), col("_source_year").cast("string")),
      rowFilter = col("proyecto_id").isNotNull))
  }

  /** RSCF / Russian Science Foundation project cards
    * (CreateRSCFAwards.ipynb cell 11, ~15.7K stub-seeded grants): the
    * RFBR twin — §6.7 amount waiver, year-only coverage from the
    * grant-number YY prefix, trimmed-NULLIF lead with the host
    * organization and 'RU'. */
  def rscf: FunderIngestConfig = {
    val lead = when(col("lead_family_name").isNotNull &&
        col("lead_family_name") =!= "",
      investigator(nullif(trim(col("lead_given_name")), lit("")),
        trim(col("lead_family_name")),
        nullif(trim(col("organization")), lit("")), lit("RU")))
    FunderIngestConfig(4320324099L, AwardFieldMap(
      provenance = "rscf", priority = 399,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      fundingType = lit("research"),
      funderScheme = col("funder_scheme"),
      startYear = col("start_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("display_name").isNotNull))
  }

  /** CFI / Canada Foundation for Innovation dashboard
    * (CreateCFIAwards.ipynb cell 7, ~14K infrastructure projects):
    * the source has NO native grant id — the mint key is the
    * sanitized (year, institution, title-prefix) concat and the
    * award id a 'CFI-<year>-<hash%1e6>' pseudo-id, CAD amounts,
    * literal 'infrastructure', first-of-pipe team leader stored in
    * family_name, the fixed dashboard landing URL. */
  def cfi: FunderIngestConfig = {
    val sd = to_date(col("decision_date"))
    val lead = when(col("team_leaders").isNotNull &&
        trim(col("team_leaders")) =!= "",
      investigator(lit(null).cast("string"),
        trim(element_at(split(col("team_leaders"), "\\|"), 1)),
        trim(col("lead_institution")), lit("Canada"), roleStart = sd))
    FunderIngestConfig(4320320995L, AwardFieldMap(
      provenance = "cfi_opendata", priority = 8,
      mintKey = lower(regexp_replace(
        concat(col("decision_year"), lit("_"), col("lead_institution"),
          lit("_"), substring(col("project_title"), 1, 50)),
        "[^a-zA-Z0-9]", "_")),
      funderAwardId = concat(lit("CFI-"), col("decision_year"), lit("-"),
        (abs(hash(concat(col("lead_institution"), col("project_title"))))
          % 1000000).cast("string")),
      displayName = col("project_title"),
      amount = col("cfi_contribution").try_cast("double"),
      currency = lit("CAD"),
      fundingType = lit("infrastructure"),
      funderScheme = col("fund_type"),
      startDate = sd,
      startYear = col("decision_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = lit("https://www.innovation.ca/projects-results/" +
        "funded-projects-dashboard"),
      rowFilter = col("project_title").isNotNull &&
        trim(col("project_title")) =!= ""))
  }

  /** Hewlett Foundation grants DB (CreateHewlettAwards.ipynb cell 12,
    * ~12.6K grants): the 'Hewlett <program> — <grantee>' display, the
    * title+'. '+overview description assembly, the advocacy/arts
    * programme→'other' split, substring years, an org-level lead
    * ('US') with role_start = grant start, the grantee's own website
    * as landing URL. */
  def hewlett: FunderIngestConfig = {
    val sd = d(col("start_date"))
    val otherPrograms = Seq("Performing Arts", "Special Projects",
      "Effective Philanthropy", "Gender Equity and Governance")
    val lead = when(col("grantee").isNotNull && col("grantee") =!= "",
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("grantee"), lit("US"), roleStart = sd))
    FunderIngestConfig(4320307873L, AwardFieldMap(
      provenance = "hewlett_facetwp",
      priority = 86,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Hewlett "), col("program"),
        lit(" — "), col("grantee")),
      description = when(col("projectTitle").isNotNull &&
          col("overview").isNotNull,
          concat(col("projectTitle"), lit(". "), col("overview")))
        .when(col("projectTitle").isNotNull, col("projectTitle"))
        .otherwise(col("overview")),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = when(col("program").isin(otherPrograms: _*), "other")
        .otherwise("research"),
      funderScheme = col("program"),
      startDate = sd, endDate = d(col("end_date")),
      startYear = substring(col("start_date"), 1, 4).try_cast("int"),
      endYear = substring(col("end_date"), 1, 4).try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("grantee_website"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("grantee").isNotNull))
  }

  private def affType: String =
    s"struct<name:string,country:string,ids:$affIds>"

  /** ARIS / Slovenian Research and Innovation Agency eCRIS
    * (CreateARISAwards.ipynb cell 9, ~11.9K projects): the §6.7
    * waiver, the Z-postdoc fellowship split, the 21-entry
    * mstid_prg→labelled-scheme map, keywords-as-description, and a
    * lead whose AFFILIATION STRUCT ITSELF is NULL when no org —
    * the only config with a conditional affiliation slot; no row
    * filter in the reference. */
  def aris: FunderIngestConfig = {
    val prg = col("mstid_prg")
    val scheme = Seq(
      "P" -> "P — research programme",
      "I" -> "I — infrastructure programme",
      "J" -> "J — basic research project",
      "L" -> "L — applied research project",
      "V" -> "V — target research project",
      "Z" -> "Z — postdoctoral research project",
      "M" -> "M — CRP MIR",
      "N" -> "N — European research project (ARIS-cofunded)",
      "H" -> "H — European research project (ERA)",
      "R" -> "R — development research project",
      "T" -> "T — natural and cultural heritage project",
      "NI" -> "NI — bilateral research project (Israel)",
      "NC" -> "NC — bilateral research project (CEA)",
      "NK" -> "NK — bilateral research project (China)",
      "NJ" -> "NJ — bilateral research project (Japan)",
      "BI" -> "BI — bilateral project",
      "GC" -> "GC — Gravitation",
      "STR" -> "STR — strategic project",
      "MN" -> "RRP — mobility project",
      "TN" -> "RRP — TRL 3-6 project",
      "O" -> "O — citizen science project")
      .foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
        when(prg === k, v).otherwise(acc) }
    val lead = when(col("lead_family_name").isNotNull ||
        col("lead_org_name").isNotNull,
      struct(col("lead_given_name").as("given_name"),
        col("lead_family_name").as("family_name"),
        lit(null).cast("string").as("orcid"),
        lit(null).cast("date").as("role_start"),
        when(col("lead_org_name").isNotNull,
          struct(col("lead_org_name").as("name"),
            lit("Slovenia").as("country"),
            lit(null).cast(affIds).as("ids")))
          .otherwise(lit(null).cast(affType)).as("affiliation")))
    FunderIngestConfig(4320322554L, AwardFieldMap(
      provenance = "aris_ecris", priority = 423,
      mintKey = lower(col("code")),
      funderAwardId = col("code"),
      displayName = coalesce(nullif(trim(col("title_en")), lit("")),
        col("title_sl")),
      description = nullif(trim(col("keywords")), lit("")),
      fundingType = when(prg === "Z", "fellowship").otherwise("research"),
      funderScheme = coalesce(scheme, prg),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true)))
  }

  /** AMED's registry-tolerant funder lookup
    * (CreateAMEDAwards.ipynb cell 11's `funder_resolved` CTE):
    * ungrouped MAX aggregates over the keyed registry slice always
    * yield exactly ONE row — a missing registry row degrades to the
    * notebook's literal defaults instead of silently zeroing the
    * cross join (the MRFF-gap lesson institutionalized). */
  def amedFunderLookup(funders: DataFrame): DataFrame =
    funders.filter(col("funder_id") === 4320311405L)
      .agg(
        coalesce(max(col("display_name")),
          lit("Japan Agency for Medical Research and Development"))
          .as("display_name"),
        coalesce(max(col("ror_id")), lit("https://ror.org/004rtk039"))
          .as("ror_id"),
        coalesce(max(col("doi")), lit("10.13039/100009619")).as("doi"))
      .select(lit(4320311405L).as("funder_id"), col("display_name"),
        col("ror_id"), col("doi"))

  /** AMED / Japan Agency for Medical Research and Development via
    * AMEDfind (CreateAMEDAwards.ipynb cell 11, ~11K projects): JPY
    * gated on amount presence, 1800-2100 year screens, the Japanese
    * fellowship-keyword regex (育成/フェロー/特別研究員), full name in
    * family_name with a JP-gated affiliation country, trimmed mint
    * key with the VERBATIM award id. Pair with
    * [[amedFunderLookup]]. */
  def amed: FunderIngestConfig = {
    def vy(c: Column) = when(c.try_cast("int").between(1800, 2100),
      c.try_cast("int"))
    val amt = col("amount").try_cast("double")
    val leaderName = nullif(trim(col("lead_researcher_name")), lit(""))
    val leaderAff = nullif(trim(col("lead_affiliation_name")), lit(""))
    val lead = when(leaderName.isNotNull || leaderAff.isNotNull,
      investigator(lit(null).cast("string"), leaderName, leaderAff,
        when(leaderAff.isNotNull, "JP")))
    FunderIngestConfig(4320311405L, AwardFieldMap(
      provenance = "amed_amedfind",
      priority = 207,
      mintKey = lower(trim(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = nullif(trim(col("description")), lit("")),
      amount = amt,
      currency = when(amt.isNotNull, "JPY"),
      fundingType = when(col("funder_scheme")
          .rlike("育成|フェロー|特別研究員"), "fellowship")
        .otherwise("research"),
      funderScheme = nullif(trim(col("funder_scheme")), lit("")),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = vy(col("start_year")), endYear = vy(col("end_year")),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("display_name").isNotNull))
  }

  /** AHA / American Heart Association report builder
    * (CreateAHAAwards.ipynb cell 12, ~10.2K awards): the
    * script-shaped investigators JSON parses into the FULL typed
    * investigator list (role_start dates and affiliation ids
    * included), the first element becoming the lead; source-carried
    * funding_type and currency; exact award dates. */
  def aha: FunderIngestConfig = {
    val arr = from_json(col("investigators_json"),
      org.apache.spark.sql.types.DataType.fromDDL(
        s"array<${FunderIngest.InvestigatorType}>"))
    FunderIngestConfig(4320306230L, AwardFieldMap(
      provenance = "aha_report_builder",
      priority = 397,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = col("funding_type"),
      funderScheme = col("funder_scheme"),
      startDate = col("start_date").try_cast("date"),
      endDate = col("end_date").try_cast("date"),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = element_at(arr, 1),
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("title").isNotNull,
      investigators = arr))
  }

  /** Carnegie Corporation of New York grants DB
    * (CreateCarnegieAwards.ipynb cell 12, ~9.3K grants): the
    * 'Carnegie <program> - <grantee> (<year>)' display with a
    * 'Grant' programme fallback, year-only coverage, an org-level
    * lead whose country stays NULL (never guessed). */
  def carnegie: FunderIngestConfig = {
    val lead = when(col("grantee_org").isNotNull &&
        col("grantee_org") =!= "",
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("grantee_org"), lit(null).cast("string")))
    FunderIngestConfig(4320306125L, AwardFieldMap(
      provenance = "carnegie_corporation",
      priority = 141,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Carnegie "),
        coalesce(col("program"), lit("Grant")), lit(" - "),
        col("grantee_org"),
        when(col("year").isNotNull,
          concat(lit(" ("), col("year"), lit(")"))).otherwise(lit(""))),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("grant"),
      funderScheme = col("program"),
      startYear = col("year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("grantee_org").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-12 fourth tranche: Energimyndigheten, Forte, HK ITC,
  // CSA Canada, AGAUR, APVV, Moore, Doris Duke, HMRF, Sloan, IRFD
  // ---------------------------------------------------------------

  /** Energimyndigheten / Swedish Energy Agency via SweCRIS
    * (CreateEnergimyndighetenAwards.ipynb, ~6K): the VR/Formas shape
    * with trimmed-NULLIF text pairs, the zero-amount NULL, the
    * COALESCE-guarded type cascade, NO investigator slots at all,
    * and the TRIMMED raw id kept in the landing URL. */
  def energimyndigheten: FunderIngestConfig = {
    val ta = lower(coalesce(col("type_of_award"), lit("")))
    val fundingType = likeCascade(ta, Seq(
      "fellow" -> "fellowship", "stipend" -> "fellowship",
      "infrastructure" -> "infrastructure", "project" -> "research"), "grant")
    FunderIngestConfig(4320322711L, AwardFieldMap(
      provenance = "energimyndigheten",
      priority = 435,
      mintKey = lower(swecrisBareId(col("project_id"))),
      funderAwardId = swecrisBareId(col("project_id")),
      displayName = coalesce(nullif(trim(col("title_english")), lit("")),
        nullif(trim(col("title")), lit(""))),
      description = coalesce(nullif(trim(col("abstract_english")),
        lit("")), nullif(trim(col("abstract")), lit(""))),
      amount = nullif(col("amount").try_cast("double"), lit(0.0)),
      currency = lit("SEK"),
      fundingType = fundingType,
      funderScheme = nullif(trim(col("type_of_award")), lit("")),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      landingPageUrl = concat(lit("https://www.vr.se/swecris#/project/"),
        trim(col("project_id"))),
      rowFilter = col("project_id").isNotNull &&
        trim(col("project_id")) =!= ""))
  }

  /** Forte / Swedish Research Council for Health, Working Life and
    * Welfare via SweCRIS (CreateForteAwards.ipynb, ~2.7K): the Formas
    * twin minus the environment/international arms of the type
    * cascade. */
  def forte: FunderIngestConfig = {
    val ta = lower(col("type_of_award"))
    val fundingType = likeCascade(ta, Seq(
      "positions" -> "fellowship", "stipend" -> "fellowship",
      "infrastructure" -> "infrastructure", "project" -> "research"), "grant")
    val lead = when(col("pi_family_name").isNotNull &&
        trim(col("pi_family_name")) =!= "",
      investigator(col("pi_given_name"), col("pi_family_name"),
        col("coordinating_organisation"), lit("Sweden"),
        orcid = col("pi_orcid")))
    FunderIngestConfig(4320324004L, AwardFieldMap(
      provenance = "forte", priority = 17,
      mintKey = lower(swecrisBareId(col("project_id"))),
      funderAwardId = swecrisBareId(col("project_id")),
      displayName = coalesce(col("title_english"), col("title")),
      description = coalesce(col("abstract_english"), col("abstract")),
      amount = col("amount").try_cast("double"), currency = lit("SEK"),
      fundingType = fundingType, funderScheme = col("type_of_award"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://www.vr.se/swecris#/project/"),
        col("project_id")),
      rowFilter = col("project_id").isNotNull &&
        trim(col("project_id")) =!= ""))
  }

  /** The beneficiary-register archetype (HK ITC / CSA Canada / AGAUR
    * — government subvention registers with NO PI names): the >0
    * amount gate on BOTH amount and the literal currency, a
    * fellowship regex over a scheme column, year-boundary dates, an
    * org-only lead with a placeholder-beneficiary screen (§6.4a), a
    * fixed register landing URL. */
  private def beneficiaryRegister(funderId: Long, provenance: String,
      priority: Int, currencyCode: String, fellowOn: Column,
      fellowRe: String, display: Column, description: Column,
      scheme: Column, startYearCol: Column, endYearCol: Column,
      instPlaceholder: String, country: Column,
      landing: String): FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val sy = startYearCol.try_cast("int")
    val ey = endYearCol.try_cast("int")
    val inst = col("institution_name")
    val lead = when(inst.isNotNull && inst =!= instPlaceholder &&
        trim(inst) =!= "",
      investigator(lit(null).cast("string"), lit(null).cast("string"), inst,
        country))
    FunderIngestConfig(funderId, AwardFieldMap(
      provenance = provenance, priority = priority,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = display, description = description,
      amount = when(amt > 0, amt),
      currency = when(amt > 0, currencyCode),
      fundingType = when(lower(fellowOn).rlike(fellowRe), "fellowship")
        .otherwise("research"),
      funderScheme = scheme,
      startDate = when(sy.isNotNull,
        concat(sy.cast("string"), lit("-01-01")).cast("date")),
      endDate = when(ey.isNotNull,
        concat(ey.cast("string"), lit("-12-31")).cast("date")),
      startYear = sy, endYear = ey,
      leadInvestigator = lead,
      landingPageUrl = lit(landing),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id").cast("string")) =!= ""))
  }

  /** HK ITC / Innovation and Technology Commission ITF register
    * (CreateHKITCAwards.ipynb): HKD, year-only start (no end), 'Hong
    * Kong' beneficiaries, the empty-string placeholder screen. (The
    * notebook's fellowship regex tests UPPERCASE codes against the
    * LOWERED scheme — kept verbatim; it classifies everything
    * 'research', exactly as the reference does.) */
  def hkItc: FunderIngestConfig = beneficiaryRegister(
    4320321920L, "hk_itc_itf", 197, "HKD",
    fellowOn = col("funder_scheme"), fellowRe = "(ITSP|PRP|MRP|TCFS)",
    display = col("title"), description = lit(null).cast("string"),
    scheme = col("funder_scheme"),
    startYearCol = col("year"), endYearCol = lit(null).cast("int"),
    instPlaceholder = "", country = lit("Hong Kong"),
    landing = "https://www.itf.gov.hk/datagovhk/Economia/" +
      "Concessions-del-RAISC-Registre-de-subvencions-i-aju/s9xt-n979")

  /** CSA Canada proactive-disclosure register
    * (CreateCSACanadaAwards.ipynb): CAD, title-else-description
    * display, source-carried recipient country. */
  def csaCanada: FunderIngestConfig = beneficiaryRegister(
    4320334436L, "csa_canada_proactive", 201, "CAD",
    fellowOn = col("prog_name_en"), fellowRe = "(fellowship)",
    display = coalesce(col("title_en"), col("description_en")),
    description = col("description_en"),
    scheme = col("prog_name_en"),
    startYearCol = col("start_year"), endYearCol = col("end_year"),
    instPlaceholder = "", country = col("recipient_country"),
    landing = "https://analisi.transparenciacatalunya.cat/Economia/" +
      "Concessions-del-RAISC-Registre-de-subvencions-i-aju/s9xt-n979")

  /** AGAUR / Catalan RAISC subvention register via Socrata
    * (CreateAGAURAwards.ipynb): EUR, the Catalan fellowship-term
    * regex, the 'Estranger-Altres' placeholder screen, 'Spain'. */
  def agaur: FunderIngestConfig = beneficiaryRegister(
    4320334830L, "agaur_raisc_socrata", 195, "EUR",
    fellowOn = col("funder_scheme"),
    fellowRe = "(doctorat|industrial|formacio|formation|beca|" +
      "fellowship|investigador|professor|jove)",
    display = col("title"), description = lit(null).cast("string"),
    scheme = col("funder_scheme"),
    startYearCol = col("start_year"), endYearCol = col("end_year"),
    instPlaceholder = "Estranger-Altres", country = lit("Spain"),
    landing = "https://analisi.transparenciacatalunya.cat/Economia/" +
      "Concessions-del-RAISC-Registre-de-subvencions-i-aju/s9xt-n979")

  /** APVV / Slovak Research and Development Agency
    * (CreateAPVVAwards.ipynb, ~5.4K): the 'APVV grant <id>' title
    * fallback, the >0 decimal gate with source currency, the
    * scheme-embedded call-year regex for start_year, an org-only
    * 'Slovakia' lead, NULL works_api_url; no row filter in the
    * reference. */
  def apvv: FunderIngestConfig = {
    val amt = col("amount").try_cast("decimal(18,2)")
    val lead = when(col("institution").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("institution"), lit("Slovakia")))
    FunderIngestConfig(4320323251L, AwardFieldMap(
      provenance = "apvv", priority = 367,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("title")), lit("")),
        concat(lit("APVV grant "), col("funder_award_id"))),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startYear = regexp_extract(col("scheme"), "([0-9]{4})", 1)
        .try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Moore Foundation grants DB (CreateMooreAwards.ipynb, ~4.5K):
    * title-else-'Moore Foundation grant <id>' fallback, >0 USD gate,
    * year-only coverage, org-only lead with a NULL country (never
    * guessed). */
  def moore: FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val lead = when(col("grantee_org").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("grantee_org"), lit(null).cast("string")))
    FunderIngestConfig(4320306202L, AwardFieldMap(
      provenance = "moore_foundation",
      priority = 161,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(col("title"),
        concat(lit("Moore Foundation grant "), col("funder_award_id"))),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, "USD"),
      fundingType = lit("grant"),
      funderScheme = col("program"),
      startYear = col("start_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull))
  }

  /** Doris Duke Foundation (CreateDorisDukeAwards.ipynb, ~4.3K): the
    * DUAL-ARM shape keyed on source_kind — organizational grants get
    * a 'Doris Duke Grant - <org> (<year>)' display and an org lead
    * with role_start = approval, named recipients (artists/fellows)
    * get a 'Doris Duke <scheme> - <name> (<year>)' display and a
    * names-only 'US' lead; source-carried funding_type. */
  def dorisDuke: FunderIngestConfig = {
    val orgArm = col("source_kind") === "organizational_grant"
    val yearSuffix = when(col("year").isNotNull,
      concat(lit(" ("), col("year"), lit(")"))).otherwise(lit(""))
    val sd = d(col("approved_on"))
    val lead = when(orgArm && col("grantee_org").isNotNull,
        investigator(lit(null).cast("string"), lit(null).cast("string"),
          col("grantee_org"), lit("US"), roleStart = sd))
      .when(col("recipient_name").isNotNull,
        investigator(col("given_name"), col("family_name"),
          lit(null).cast("string"), lit("US")))
    FunderIngestConfig(4320306134L, AwardFieldMap(
      provenance = "doris_duke", priority = 143,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = when(orgArm,
          concat(lit("Doris Duke Grant - "), col("grantee_org"),
            yearSuffix))
        .otherwise(concat(lit("Doris Duke "), col("scheme"), lit(" - "),
          col("recipient_name"), yearSuffix)),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = col("funding_type"),
      funderScheme = col("scheme"),
      startDate = sd,
      startYear = col("year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        (col("grantee_org").isNotNull || col("recipient_name").isNotNull)))
  }

  /** HMRF / Health and Medical Research Fund (Hong Kong)
    * (CreateHMRFAwards.ipynb, ~4K): ref_no key, decimal HKD, the
    * final-else-proposal abstract fallback, call-year-only coverage,
    * 'Hong Kong' lead, NULL landing and works_api_url; no row filter
    * in the reference. */
  def hmrf: FunderIngestConfig = {
    val cy = col("call_year").try_cast("int")
    val lead = when(col("lead_family_name").isNotNull,
      investigator(col("lead_given_name"), col("lead_family_name"),
        col("lead_affiliation"), lit("Hong Kong")))
    FunderIngestConfig(4320335055L, AwardFieldMap(
      provenance = "hmrf", priority = 322,
      mintKey = lower(col("ref_no")),
      funderAwardId = col("ref_no"),
      displayName = col("project_title"),
      description = coalesce(col("abstract_final"),
        col("abstract_proposal")),
      amount = col("approved_amount_hkd").try_cast("decimal(18,2)"),
      currency = lit("HKD"),
      fundingType = lit("grant"),
      funderScheme = col("fund"),
      startDate = when(cy.isNotNull,
        d(concat(cy.cast("string"), lit("-01-01")))),
      startYear = cy,
      leadInvestigator = lead,
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Sloan Foundation grants DB (CreateSloanAwards.ipynb, ~3.4K):
    * the '<program> - <grantee> (<year>)' display with a 'Sloan
    * Grant' fallback, source currency, an org+investigator lead with
    * the parsed-city country left NULL when unmappable. */
  def sloan: FunderIngestConfig = {
    val lead = when(col("grantee_org").isNotNull ||
        col("investigator").isNotNull,
      investigator(col("given_name"), col("family_name"), col("grantee_org"),
        col("country")))
    FunderIngestConfig(4320306151L, AwardFieldMap(
      provenance = "sloan_foundation",
      priority = 149,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(coalesce(col("program"), lit("Sloan Grant")),
        lit(" - "), col("grantee_org"),
        when(col("year").isNotNull,
          concat(lit(" ("), col("year"), lit(")"))).otherwise(lit(""))),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("grant"),
      funderScheme = col("program"),
      startYear = col("year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("permalink_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("grantee_org").isNotNull))
  }

  /** Independent Research Fund Denmark via Forskningsportal
    * (CreateIndependentResearchFundDenmarkAwards.ipynb, ~4K): DKK,
    * the Danish instrument→type cascade (Sapere Aude fellowships),
    * instrument-else-call scheme, the PI-role row screen (the source
    * is person-grained — only PI rows land, avoiding duplicates),
    * 'funder'-asserted ROR ids, and a REAL grant DOI. */
  def irfDenmark: FunderIngestConfig = {
    val ft = lower(col("funding_type"))
    val fundingType = likeCascade(ft, Seq(
      "fellowship" -> "fellowship", "postdoctoral" -> "fellowship",
      "sapere aude" -> "fellowship", "individual" -> "grant",
      "research project" -> "grant"), "grant")
    val rorIds = when(col("organisation_ror").isNotNull,
      array(struct(col("organisation_ror").as("id"),
        lit("ror").as("type"), lit("funder").as("asserted_by"))))
      .otherwise(lit(null).cast(affIds))
    val lead = when(col("last_name").isNotNull &&
        col("person_role") === "Principal Investigator",
      investigator(col("first_name"), col("last_name"),
        col("organisation_name"), col("organisation_country"),
        orcid = nullif(trim(col("orcid")), lit("")), ids = rorIds))
    FunderIngestConfig(4320322928L, AwardFieldMap(
      provenance = "forskningsportal_dk",
      priority = 30,
      mintKey = lower(col("grant_id").cast("string")),
      funderAwardId = col("grant_id"),
      displayName = trim(col("title")),
      description = trim(col("abstract")),
      amount = col("amount_granted").try_cast("double"),
      currency = lit("DKK"),
      fundingType = fundingType,
      funderScheme = coalesce(col("funder_specific_instrument"),
        col("call")),
      startDate = d(col("grant_start_date")),
      endDate = d(col("grant_end_date")),
      startYear = col("grant_year").try_cast("int"),
      endYear = year(d(col("grant_end_date"))),
      leadInvestigator = lead,
      landingPageUrl = col("project_url"),
      doi = nullif(trim(col("grant_doi")), lit("")),
      rowFilter = col("grant_id").isNotNull &&
        col("person_role") === "Principal Investigator"))
  }

  // ---------------------------------------------------------------
  // Round-12 fifth tranche: Templeton, ETIS pair, MinCiencias,
  // Telethon, Sweden-America, Arnold Ventures, Alzheimer's
  // Association, Vlaamse Regering / VLAIO / BELSPO (FRIS twins above)
  // ---------------------------------------------------------------

  /** Templeton Foundation WordPress grants DB
    * (CreateTempletonAwards.ipynb, ~6K): title-else-web-title and
    * max-content-else-content fallbacks, USD, NULL scheme, 10-char
    * date substrings, an UNCONDITIONAL lead carrying the verbatim
    * (possibly multi-PI) project-leader string in family_name with
    * the grantee org and a NULL country. */
  def templeton: FunderIngestConfig = {
    val lead = investigator(lit(null).cast("string"),
      col("grant_project_leader"), col("grant_grantee"),
      lit(null).cast("string"))
    val sd = d(substring(col("grant_start_date"), 1, 10))
    val ed = d(substring(col("grant_end_date"), 1, 10))
    FunderIngestConfig(4320306193L, AwardFieldMap(
      provenance = "templeton_wp", priority = 39,
      mintKey = lower(col("grant_id")),
      funderAwardId = col("grant_id"),
      displayName = coalesce(nullif(col("title"), lit("")),
        col("grant_web_title")),
      description = coalesce(col("grant_max_content"),
        col("grant_content")),
      amount = col("grant_amount_raw").try_cast("double"),
      currency = lit("USD"),
      fundingType = lit("research"),
      startDate = sd, endDate = ed,
      startYear = year(sd), endYear = year(ed),
      leadInvestigator = lead,
      landingPageUrl = col("url"),
      rowFilter = col("grant_id").isNotNull &&
        trim(col("grant_id")) =!= ""))
  }

  /** The ETIS (Estonian Research Information System) grant shape —
    * the ETAg / ETF notebooks are exact twins differing only in the
    * funder row, provenance/priority slice, and the title-fallback
    * label: >0 decimal gate with source currency, full dates,
    * PI-gated 'Estonia' lead, NULL works_api_url; no row filter. */
  private def etisGrant(funderId: Long, provenance: String,
      priority: Int, fallbackLabel: String): FunderIngestConfig = {
    val amt = col("amount").try_cast("decimal(18,2)")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("Estonia")))
    FunderIngestConfig(funderId, AwardFieldMap(
      provenance = provenance, priority = priority,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("title")), lit("")),
        concat(lit(fallbackLabel), col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startDate = d(col("start_date_raw")), endDate = d(col("end_date_raw")),
      startYear = year(d(col("start_date_raw"))),
      endYear = year(d(col("end_date_raw"))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** ETAg / Estonian Research Council via ETIS
    * (CreateETISETAgAwards.ipynb, ~2.5K). */
  def etisEtag: FunderIngestConfig = etisGrant(4320321090L, "etis_etag",
    363, "Estonian Research Council (ETAg) grant ")

  /** ETF / Estonian Science Foundation via ETIS
    * (CreateETISETFAwards.ipynb, ~2.1K). */
  def etisEtf: FunderIngestConfig = etisGrant(4320321018L, "etis_etf",
    365, "Estonian Science Foundation (ETF) grant ")

  /** The MinCiencias/Colciencias era pair
    * (CreateMinCienciasAwards.ipynb's year-bounded pick). */
  def minCienciasFunderIds: Seq[Long] = Seq(3277441329L, 4320309955L)

  /** MinCiencias / Colciencias (Colombia) via datos.gov.co
    * (CreateMinCienciasAwards.ipynb, ~3.1K, resolved §2.3.2: the
    * 2019 rename year-bounds the funder pick — ≥2019 MinCiencias,
    * <2019 Colciencias): the citable codigo_proyecto with a
    * 'minciencias-<slug-id>' fallback, the funder's own share as the
    * canonical COP amount, approval-date start, an UNCONDITIONAL
    * org-only 'CO' lead from the executing entity. */
  def minCiencias: ResolvedFunderIngestConfig = {
    val yr = col("ano_convocatoria").try_cast("int")
    val awardId = coalesce(nullif(trim(col("codigo_proyecto")), lit("")),
      concat(lit("minciencias-"), col("proyecto_id")))
    val lead = investigator(lit(null).cast("string"), lit(null).cast("string"),
      col("entidad_ejecuta"), lit("CO"))
    val resolved = when(yr >= 2019, 3277441329L)
      .when(yr < 2019, 4320309955L)
    ResolvedFunderIngestConfig(resolved, AwardFieldMap(
      provenance = "datos_gov_co_minciencias", priority = 52,
      mintKey = lower(awardId),
      funderAwardId = awardId,
      displayName = col("titulo_proyecto"),
      description = col("desc_convocatoria"),
      amount = col("monto_financiado_ap").try_cast("double"),
      currency = lit("COP"),
      fundingType = lit("research"),
      funderScheme = col("nme_prog_cti"),
      startDate = d(substring(col("fecha_aprobacion"), 1, 10)),
      startYear = yr,
      leadInvestigator = lead,
      landingPageUrl = col("source_url"),
      rowFilter = col("slug").isNotNull &&
        col("ano_convocatoria").isNotNull))
  }

  /** Telethon Foundation (Italy) grants DB
    * (CreateTelethonAwards.ipynb, ~3.1K): the Humboldt-shaped card —
    * 'Telethon grant <id>' title fallback, >0 decimal gate with
    * source currency, full dates, PI-else-institution 'Italy' lead,
    * NULL works_api_url. */
  def telethon: FunderIngestConfig = {
    val amt = col("amount").try_cast("decimal(18,2)")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("Italy")))
      .when(col("institution").isNotNull,
        investigator(lit(null).cast("string"), lit(null).cast("string"),
          col("institution"), lit("Italy")))
    FunderIngestConfig(4320321179L, AwardFieldMap(
      provenance = "telethon", priority = 218,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("title")), lit("")),
        concat(lit("Telethon grant "), col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startDate = d(col("start_date_raw")), endDate = d(col("end_date_raw")),
      startYear = year(d(col("start_date_raw"))),
      endYear = year(d(col("end_date_raw"))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull,
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Sweden-America Foundation fellows
    * (CreateSwedenAmericaFdnAwards.ipynb, ~3K): the
    * '<scheme> <years>: <name>' display assembly, §6.7 fellowship
    * waiver, literal scheme, year-span-only coverage, a name-gated
    * lead placed at US institutions (the foundation's sole
    * destination). */
  def swedenAmericaFdn: FunderIngestConfig = {
    val lead = when(col("name").isNotNull && col("name") =!= "",
      investigator(col("given_name"), col("family_name"), col("institution"),
        lit("US")))
    FunderIngestConfig(4320320938L, AwardFieldMap(
      provenance = "sweden_america_foundation",
      priority = 145,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Sweden-America Foundation Fellowship "),
        col("start_year"), lit("-"), col("end_year"), lit(": "),
        col("name")),
      description = col("description"),
      fundingType = lit("fellowship"),
      funderScheme = lit("Sweden-America Foundation Fellowship"),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("name").isNotNull))
  }

  /** Arnold Ventures via the Algolia grants index
    * (CreateArnoldVenturesAwards.ipynb, ~2.6K): objectID key,
    * description-else-body fallback, USD, empty-string-NULLed
    * funding-source scheme, year-boundary dates, an UNCONDITIONAL
    * org-only lead with a NULL country. */
  def arnoldVentures: FunderIngestConfig = {
    val sy = col("start_year")
    val ey = col("end_year")
    val lead = investigator(lit(null).cast("string"), lit(null).cast("string"),
      nullif(col("grantee_name"), lit("")), lit(null).cast("string"))
    FunderIngestConfig(4320315359L, AwardFieldMap(
      provenance = "arnold_ventures_algolia",
      priority = 41,
      mintKey = lower(col("objectID")),
      funderAwardId = col("objectID"),
      displayName = col("title"),
      description = coalesce(nullif(col("grant_description"), lit("")),
        nullif(col("grant_body"), lit(""))),
      amount = col("grant_amount").try_cast("double"),
      currency = lit("USD"),
      fundingType = lit("research"),
      funderScheme = nullif(col("funding_source"), lit("")),
      startDate = when(sy.isNotNull,
        d(concat(sy.cast("string"), lit("-01-01")))),
      endDate = when(ey.isNotNull,
        d(concat(ey.cast("string"), lit("-12-31")))),
      startYear = sy.try_cast("int"), endYear = ey.try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("url"),
      rowFilter = col("objectID").isNotNull &&
        trim(col("objectID")) =!= ""))
  }

  /** Alzheimer's Association grants (CreateAlzAssociationAwards
    * .ipynb, ~2.4K): NULL amount/currency, programme scheme, the
    * ASYMMETRIC year bands (start_date only within 2000-2027,
    * start_year within the wider 1980-2030), source-carried lead
    * country, NULL landing and works URLs; no row filter. */
  def alzAssociation: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        col("country")))
    FunderIngestConfig(4320306219L, AwardFieldMap(
      provenance = "alz_association",
      priority = 269,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("research"),
      funderScheme = col("programme"),
      startDate = when(sy.between(2000, 2027),
        d(concat(col("start_year"), lit("-01-01")))),
      startYear = when(sy.between(1980, 2030), sy),
      leadInvestigator = lead,
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  // ---------------------------------------------------------------
  // Round-12 sixth tranche: Taiwan GRB twins (MOST 177K / NSTC 57K),
  // OTKA/NKFIH era split, UCOP, HRSA, IES, IFAU + Östersjöstiftelsen
  // (SweCRIS rich twins), CZI
  // ---------------------------------------------------------------

  /** The Taiwan GRB contributor JSON shape (both GRB notebooks'
    * FROM_JSON schemas). */
  private def grbPerson: String =
    "struct<given_name:string,family_name:string,orcid:string," +
      "role_start_year:string,affiliation_name:string," +
      "affiliation_country:string>"

  /** The Taiwan Government Research Bulletin archetype (the MOST and
    * NSTC notebooks are exact twins split by plan-organ code):
    * year-only coverage with the future-start cap NULLing BOTH years,
    * an UNCONDITIONAL trimmed lead (country never guessed), a JSON
    * co-lead STRUCT and a JSON investigators ARRAY (both
    * trimmed-NULLIF, NULL orcid/role), research-method-else-fallback
    * scheme. */
  private def grbProject(funderId: Long, provenance: String,
      priority: Int, schemeFallback: String,
      currentYear: Int): FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val ey = col("end_year").try_cast("int")
    val future = sy > currentYear + 1
    def person(g: Column, fam: Column, aff: Column): Column =
      investigator(nullif(trim(g), lit("")), nullif(trim(fam), lit("")),
        nullif(trim(aff), lit("")), lit(null).cast("string"))
    val coLead0 = from_json(col("co_lead_json"),
      org.apache.spark.sql.types.DataType.fromDDL(grbPerson))
    val coLead = when(coLead0.isNotNull,
      person(coLead0.getField("given_name"),
        coLead0.getField("family_name"),
        coLead0.getField("affiliation_name")))
    val invs0 = from_json(col("investigators_json"),
      org.apache.spark.sql.types.DataType.fromDDL(s"array<$grbPerson>"))
    val invs = when(invs0.isNotNull && size(invs0) > 0,
      transform(invs0, x => person(x.getField("given_name"),
        x.getField("family_name"), x.getField("affiliation_name"))))
      .otherwise(FunderIngest.nullInvestigators)
    FunderIngestConfig(funderId, AwardFieldMap(
      provenance = provenance, priority = priority,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("research"),
      funderScheme = coalesce(nullif(trim(col("research_method")),
        lit("")), lit(schemeFallback)),
      startYear = when(future, lit(null)).otherwise(sy),
      endYear = when(future, lit(null)).otherwise(ey),
      leadInvestigator = person(col("lead_given_name"),
        col("lead_family_name"), col("executing_institution")),
      coLeadInvestigator = coLead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "",
      investigators = invs))
  }

  /** Taiwan MOST via GRB (CreateTaiwanMOSTGRBAwards.ipynb, ~177K
    * legacy Ministry of Science and Technology projects): the
    * [[grbProject]] archetype at the BT100 plan-organ slice. */
  def taiwanMostGrb(currentYear: Int): FunderIngestConfig =
    grbProject(4320322795L, "grb_most_projects", 210,
      "MOST GRB project", currentYear)

  /** The NSTC funder row is non-F4320* and INLINED by the notebook
    * (CreateNSTCGRBAwards.ipynb's runbook Step 0 literals). */
  def nstcFunderLookup(spark: SparkSession): DataFrame =
    FunderIngest.inlineFunders(spark, Seq(
      (2461203286L, "National Science and Technology Council",
        Some("https://ror.org/02kv4zf79"), "10.13039/100020595")))

  /** Taiwan NSTC via GRB (CreateNSTCGRBAwards.ipynb, ~57K current
    * National Science and Technology Council projects): the
    * [[grbProject]] twin at BT200, paired with
    * [[nstcFunderLookup]]. */
  def nstcGrb(currentYear: Int): FunderIngestConfig =
    grbProject(2461203286L, "grb_nstc_projects", 202,
      "NSTC GRB project", currentYear)

  /** The OTKA/NKFIH era pair (CreateOTKAAwards.ipynb's §2.3.2
    * split). */
  def otkaFunderIds: Seq[Long] = Seq(4320321994L, 4320326762L)

  /** OTKA / NKFIH (Hungary) via the NKFI-EPR database
    * (CreateOTKAAwards.ipynb, ~157K projects, resolved §2.3.2 era
    * split — never blanket-assign a shared-reporting source): starts
    * ≥ 2015-09-01 are NKFIH, dated starts before are OTKA, NULL-date
    * rows fall back on the 115000 first-NKFIH-call id boundary;
    * EN→HU title/summary cascades, amount-gated HUF, the PD-postdoc
    * fellowship split, a conditional-affiliation 'Hungary' lead with
    * role_start = start, and the 'Family, Given' participants JSON
    * split on the comma. */
  def otka: ResolvedFunderIngestConfig = {
    val sd = d(col("start_date"))
    val amt = col("amount_huf").try_cast("double")
    val lead = when(col("pi_family_name").isNotNull ||
        col("pi_given_name").isNotNull,
      struct(nullif(trim(col("pi_given_name")), lit("")).as("given_name"),
        nullif(trim(col("pi_family_name")), lit("")).as("family_name"),
        lit(null).cast("string").as("orcid"),
        sd.as("role_start"),
        when(col("institution").isNotNull,
          struct(trim(col("institution")).as("name"),
            lit("Hungary").as("country"),
            lit(null).cast(affIds).as("ids")))
          .otherwise(lit(null).cast(affType)).as("affiliation")))
    val parts = from_json(col("participants_raw"),
      org.apache.spark.sql.types.DataType.fromDDL("array<string>"))
    val invs = when(col("participants_raw").isNotNull &&
        !col("participants_raw").isin("[]", ""),
      transform(
        filter(parts, p => nullif(trim(p), lit("")).isNotNull),
        p => struct(
          when(instr(p, ",") > 0,
            nullif(trim(substring_index(p, ",", -1)), lit("")))
            .otherwise(lit(null).cast("string")).as("given_name"),
          when(instr(p, ",") > 0,
            nullif(trim(substring_index(p, ",", 1)), lit("")))
            .otherwise(trim(p)).as("family_name"),
          lit(null).cast("string").as("orcid"),
          lit(null).cast("date").as("role_start"),
          lit(null).cast(affType).as("affiliation"))))
      .otherwise(FunderIngest.nullInvestigators)
    val resolved = when(sd >= lit("2015-09-01").cast("date"),
        4320326762L)
      .when(sd.isNotNull, 4320321994L)
      .when(col("num").try_cast("int") >= 115000, 4320326762L)
      .otherwise(4320321994L)
    ResolvedFunderIngestConfig(resolved, AwardFieldMap(
      provenance = "otka_nkfih", priority = 429,
      mintKey = lower(col("identifier")),
      funderAwardId = col("identifier"),
      displayName = coalesce(nullif(trim(col("title_en")), lit("")),
        nullif(trim(col("title_hu")), lit("")),
        concat(lit("OTKA/NKFIH project "), col("identifier"))),
      description = coalesce(nullif(trim(col("summary_en")), lit("")),
        nullif(trim(col("results_en")), lit("")),
        nullif(trim(col("summary_hu")), lit("")),
        nullif(trim(col("results_hu")), lit(""))),
      amount = amt,
      currency = when(amt.isNotNull, "HUF"),
      fundingType = when(upper(trim(col("type_code"))) === "PD",
        "fellowship").otherwise("grant"),
      funderScheme = nullif(trim(col("type_code")), lit("")),
      startDate = sd, endDate = d(col("end_date")),
      startYear = year(sd), endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      investigators = invs))
  }

  /** UCOP / University of California RGPO
    * (CreateUCOPAwards.ipynb): applicationid key, the
    * abstract-else-progress-report description, the currency-symbol
    * strip before the USD amount cast, the training/fellowship
    * regex, dual-format dates, and the FIRST and SECOND contacts of
    * the JSON list as lead and co-lead (role_start = start). */
  def ucop: FunderIngestConfig = {
    val contacts = from_json(col("contacts_json"),
      org.apache.spark.sql.types.DataType.fromDDL(
        "array<struct<institution:string,lastname:string," +
          "firstname:string,email:string,degree:string,role:string," +
          "subject:string>>"))
    def dd(c: Column): Column =
      coalesce(d(c), d(substring(c, 1, 10)))
    val sd = dd(col("startdate"))
    def contact(i: Int): Column = {
      val e = element_at(contacts, i)
      investigator(nullif(trim(e.getField("firstname")), lit("")),
        nullif(trim(e.getField("lastname")), lit("")),
        nullif(trim(e.getField("institution")), lit("")),
        lit(null).cast("string"), roleStart = sd)
    }
    val at = lower(coalesce(col("awardtype"), lit("")))
    FunderIngestConfig(4320333677L, AwardFieldMap(
      provenance = "ucop_grants", priority = 106,
      mintKey = lower(col("applicationid")),
      funderAwardId = col("applicationid"),
      displayName = col("title"),
      description = when(col("abstract").isNotNull &&
          trim(col("abstract")) =!= "", col("abstract"))
        .when(col("progressreportabbstract").isNotNull &&
          trim(col("progressreportabbstract")) =!= "",
          col("progressreportabbstract")),
      amount = regexp_replace(col("approvedamount"), "[^0-9.-]", "")
        .try_cast("double"),
      currency = lit("USD"),
      fundingType = when(at.rlike("training|traineeship|fellowship|" +
        "scholarship|postdoc|dissertation|predoc"), "fellowship")
        .otherwise("grant"),
      funderScheme = coalesce(nullif(trim(col("awardtype")), lit("")),
        nullif(trim(col("program")), lit(""))),
      startDate = sd, endDate = dd(col("enddate")),
      startYear = year(sd), endYear = year(dd(col("enddate"))),
      leadInvestigator = when(contacts.isNotNull && size(contacts) > 0,
        contact(1)),
      coLeadInvestigator = when(contacts.isNotNull && size(contacts) >= 2,
        contact(2)),
      doi = nullif(trim(col("grant_doi")), lit("")),
      rowFilter = col("applicationid").isNotNull &&
        trim(col("applicationid")) =!= ""))
  }

  /** HRSA Data Warehouse (CreateHRSAAwards.ipynb, ~72K award-year
    * rows): the per-(grant, year, row-hash) composite award id — the
    * warehouse is action-grained so the reference keys rows, NOT
    * grants — MM/dd/yyyy dates, the 'no link' abstract scrub, the
    * training regex, USD, no investigator slots. */
  def hrsa: FunderIngestConfig = {
    val rowId = concat_ws(":", lower(trim(col("grant_number"))),
      trim(col("award_year")), col("source_row_hash"))
    val prog = lower(coalesce(col("grant_program_name"),
      col("hrsa_program_area_name"), lit("")))
    def m(c: Column): Column = to_date(try_to_timestamp(c,
      lit("MM/dd/yyyy")))
    val sd = m(col("project_period_start_date"))
    val ed = m(col("grant_project_period_end_date"))
    FunderIngestConfig(4320332175L, AwardFieldMap(
      provenance = "hrsa_data_warehouse",
      priority = 57,
      mintKey = rowId,
      funderAwardId = rowId,
      displayName = coalesce(
        nullif(trim(col("grant_program_name")), lit("")),
        nullif(trim(col("hrsa_program_area_name")), lit("")),
        col("grant_number")),
      description = when(col("abstract").isNull ||
          trim(col("abstract")) === "" ||
          lower(trim(col("abstract"))) === "no link",
          lit(null).cast("string"))
        .otherwise(col("abstract")),
      amount = regexp_replace(col("financial_assistance"), "[^0-9.-]", "")
        .try_cast("double"),
      currency = lit("USD"),
      fundingType = when(prog.rlike("training|traineeship|residency|" +
        "workforce|scholarship|fellowship"), "training")
        .otherwise("grant"),
      funderScheme = coalesce(
        nullif(trim(col("grant_program_name")), lit("")),
        nullif(trim(col("hrsa_program_area_name")), lit(""))),
      startDate = sd, endDate = ed,
      startYear = year(sd), endYear = year(ed),
      rowFilter = col("grant_number").isNotNull &&
        trim(col("grant_number")) =!= "" &&
        col("award_year").isNotNull && trim(col("award_year")) =!= "" &&
        col("source_row_hash").isNotNull &&
        trim(col("source_row_hash")) =!= ""))
  }

  /** IES / Institute of Education Sciences official API
    * (CreateIESAwards.ipynb, ~59K): mid key (trimmed), the
    * description-else-title fallback, the contract/cooperative-
    * agreement type map, 10-char award-date start only, the
    * absolute-else-site-relative landing URL. */
  def ies: FunderIngestConfig = {
    val ct = lower(trim(col("mcontenttype")))
    val sd = d(substring(col("mdateprimary"), 1, 10))
    FunderIngestConfig(4320332210L, AwardFieldMap(
      provenance = "ies_official", priority = 61,
      mintKey = lower(trim(col("mid"))),
      funderAwardId = trim(col("mid")),
      displayName = nullif(trim(col("mtitle")), lit("")),
      description = coalesce(nullif(trim(col("mdescriptionshort")),
        lit("")), nullif(trim(col("mtitle")), lit(""))),
      amount = col("lawardamount").try_cast("double"),
      currency = lit("USD"),
      fundingType = when(ct === "contract", "contract")
        .when(ct === "cooperative agreement", "cooperative_agreement")
        .otherwise("grant"),
      funderScheme = nullif(trim(col("lprogram")), lit("")),
      startDate = sd,
      startYear = year(sd),
      landingPageUrl = when(col("landing_page_url")
          .rlike("^https?://"), col("landing_page_url"))
        .when(col("murl").isNotNull && trim(col("murl")) =!= "",
          concat(lit("https://ies.ed.gov"), col("murl"))),
      rowFilter = col("mid").isNotNull && trim(col("mid")) =!= ""))
  }

  /** The rich SweCRIS foundation shape (IFAU / Östersjöstiftelsen —
    * both RE-SOURCED to SweCRIS from thin foundation scrapes): the
    * Energimyndigheten text/amount hygiene plus a trimmed PI with
    * ORCID passthrough and a SIX-arm type cascade (adds
    * '%position%'). */
  private def swecrisRich(funderId: Long, provenance: String,
      priority: Int): FunderIngestConfig = {
    val ta = lower(coalesce(col("type_of_award"), lit("")))
    val fundingType = likeCascade(ta, Seq(
      "fellow" -> "fellowship", "stipend" -> "fellowship",
      "position" -> "fellowship", "infrastructure" -> "infrastructure",
      "project" -> "research"), "grant")
    val lead = when(col("pi_family_name").isNotNull &&
        trim(col("pi_family_name")) =!= "",
      investigator(nullif(trim(col("pi_given_name")), lit("")),
        trim(col("pi_family_name")),
        nullif(trim(col("coordinating_organisation")), lit("")), lit("Sweden"),
        orcid = nullif(trim(col("pi_orcid")), lit(""))))
    FunderIngestConfig(funderId, AwardFieldMap(
      provenance = provenance, priority = priority,
      mintKey = lower(swecrisBareId(col("project_id"))),
      funderAwardId = swecrisBareId(col("project_id")),
      displayName = coalesce(nullif(trim(col("title_english")), lit("")),
        nullif(trim(col("title")), lit(""))),
      description = coalesce(nullif(trim(col("abstract_english")),
        lit("")), nullif(trim(col("abstract")), lit(""))),
      amount = nullif(col("amount").try_cast("double"), lit(0.0)),
      currency = lit("SEK"),
      fundingType = fundingType,
      funderScheme = nullif(trim(col("type_of_award")), lit("")),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://www.vr.se/swecris#/project/"),
        trim(col("project_id"))),
      rowFilter = col("project_id").isNotNull &&
        trim(col("project_id")) =!= ""))
  }

  /** IFAU via SweCRIS (CreateIFAUAwards.ipynb, 131 labour-market
    * projects with full SEK/date/abstract coverage). */
  def ifau: FunderIngestConfig =
    swecrisRich(4320327653L, "ifau", 338)

  /** Östersjöstiftelsen / Foundation for Baltic and East European
    * Studies via SweCRIS (CreateOstersjostiftelsenAwards.ipynb, 242
    * projects — the richer re-source over the thin wp-json scrape). */
  def ostersjostiftelsen: FunderIngestConfig =
    swecrisRich(4320310975L, "ostersjostiftelsen", 327)

  /** CZI / Chan Zuckerberg Initiative WordPress grants
    * (CreateCZIAwards.ipynb): §6.7 amount waiver, the
    * programme-label-else-'CZI Grant' scheme, year-only start, an
    * UNCONDITIONAL trimmed 'US' lead with role_start = Jan 1. */
  def czi: FunderIngestConfig = {
    val sd = d(concat(col("start_year"), lit("-01-01")))
    val lead = investigator(nullif(trim(col("pi_given_name")), lit("")),
      nullif(trim(col("pi_family_name")), lit("")),
      nullif(trim(col("pi_affiliation")), lit("")), lit("US"), roleStart = sd)
    FunderIngestConfig(4320315474L, AwardFieldMap(
      provenance = "czi_grants", priority = 120,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      fundingType = lit("research"),
      funderScheme = coalesce(nullif(trim(col("program_label")),
        lit("")), lit("CZI Grant")),
      startDate = sd,
      startYear = col("start_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("title").isNotNull && trim(col("title")) =!= "" &&
        col("funder_award_id").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-12 seventh tranche: the CN roster family (12 notebooks —
  // 11 provincial NSFs + the national NSSFC — all fed by the shared
  // cn_provincial harvest framework, in TWO sub-shapes)
  // ---------------------------------------------------------------

  /** CN roster sub-shape A (Chongqing / Fujian / Hainan /
    * Heilongjiang / Zhejiang): the harvest framework emits a
    * `row_key` surrogate the mint falls back on, FULL dates + end
    * years, a (given, family) PI pair, the raw (un-NULLIFed) scheme,
    * and — on the two amount-bearing provinces — an UNGATED amount
    * with a >0-GATED 'CNY' currency (the reference's own asymmetry);
    * no row filter. */
  private def cnRosterA(funderId: Long, provenance: String,
      priority: Int, hasAmounts: Boolean): FunderIngestConfig = {
    val arms = Seq("杰出青年" -> "fellowship", "优秀青年" -> "fellowship",
      "青年" -> "fellowship", "博士" -> "fellowship",
      "团队" -> "research", "重大" -> "research", "重点" -> "research")
    val amt = col("amount").try_cast("double")
    val lead = when((col("family_name").isNotNull &&
        trim(col("family_name")) =!= "") ||
        (col("institution").isNotNull && trim(col("institution")) =!= ""),
      investigator(nullif(trim(col("given_name")), lit("")),
        nullif(trim(col("family_name")), lit("")),
        nullif(trim(col("institution")), lit("")), lit("China")))
    FunderIngestConfig(funderId, AwardFieldMap(
      provenance = provenance, priority = priority,
      mintKey = coalesce(lower(nullif(trim(col("funder_award_id")),
        lit(""))), col("row_key")),
      funderAwardId = nullif(trim(col("funder_award_id")), lit("")),
      displayName = col("display_name"),
      amount = if (hasAmounts) amt else lit(null).cast("double"),
      currency = if (hasAmounts) when(amt > 0, "CNY")
        else lit(null).cast("string"),
      fundingType = likeCascade(col("funder_scheme"), arms, "grant"),
      funderScheme = col("funder_scheme"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true)))
  }

  /** CN roster sub-shape B (Guangdong / Hunan / Jiangxi / Liaoning /
    * Shandong / Shanghai / NSSFC): the mint falls back on a
    * synthetic lower(title)|lower(institution) key (rosters rarely
    * publish an award id), roster-year-only coverage, the NSFC
    * precedent full-name-in-family lead (given NULL), NULLIF-trim
    * scheme, a per-province cascade, 万元×10,000 CNY on the two
    * amount-bearing rosters, and the display-required row screen. */
  private def cnRosterB(funderId: Long, provenance: String,
      priority: Int, arms: Seq[(String, String)],
      wanYuanAmounts: Boolean): FunderIngestConfig = {
    val amt0 = col("amount_raw").try_cast("double")
    val sy = col("start_year").try_cast("int")
    val lead = when((col("lead_family_name").isNotNull &&
        trim(col("lead_family_name")) =!= "") ||
        (col("institution").isNotNull && trim(col("institution")) =!= ""),
      investigator(lit(null).cast("string"),
        nullif(trim(col("lead_family_name")), lit("")),
        nullif(trim(col("institution")), lit("")), lit("China")))
    FunderIngestConfig(funderId, AwardFieldMap(
      provenance = provenance, priority = priority,
      mintKey = coalesce(nullif(lower(trim(col("funder_award_id"))),
        lit("")), concat(lower(trim(col("display_name"))), lit("|"),
        lower(trim(coalesce(col("institution"), lit("")))))),
      funderAwardId = nullif(trim(col("funder_award_id")), lit("")),
      displayName = col("display_name"),
      amount = if (wanYuanAmounts) amt0 * 10000
        else lit(null).cast("double"),
      currency = if (wanYuanAmounts) when(amt0.isNotNull, "CNY")
        else lit(null).cast("string"),
      fundingType = likeCascade(col("funder_scheme"), arms, "grant"),
      funderScheme = nullif(trim(col("funder_scheme")), lit("")),
      startDate = when(sy.isNotNull,
        d(concat(sy.cast("string"), lit("-01-01")))),
      startYear = sy,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  private val cnArmsStar: Seq[(String, String)] = Seq(
    "杰出青年" -> "fellowship", "优秀青年" -> "fellowship",
    "青年" -> "fellowship", "博士" -> "fellowship",
    "启明星" -> "fellowship", "扬帆" -> "fellowship",
    "重大" -> "research", "重点" -> "research", "联合基金" -> "research")

  private val cnArmsGroup: Seq[(String, String)] = Seq(
    "杰出青年" -> "fellowship", "优秀青年" -> "fellowship",
    "优青" -> "fellowship", "青年" -> "fellowship",
    "博士" -> "fellowship", "重大" -> "research", "重点" -> "research",
    "创新研究群体" -> "research", "联合基金" -> "research")

  /** Chongqing NSF (CreateChongqingNSFAwards.ipynb): sub-shape A,
    * §6.7 waiver. */
  def chongqingNsf: FunderIngestConfig =
    cnRosterA(4320323172L, "chongqing_nsf", 407, hasAmounts = false)

  /** Fujian NSF (CreateFujianNSFAwards.ipynb): sub-shape A WITH published amounts (ungated amount,
    * >0-gated CNY). */
  def fujianNsf: FunderIngestConfig =
    cnRosterA(4320321878L, "fujian_nsf", 405, hasAmounts = true)

  /** Hainan NSF (CreateHainanNSFAwards.ipynb): sub-shape A with amounts. */
  def hainanNsf: FunderIngestConfig =
    cnRosterA(4320322866L, "hainan_nsf", 413, hasAmounts = true)

  /** Heilongjiang NSF (CreateHeilongjiangNSFAwards.ipynb): sub-shape A, §6.7 waiver. */
  def heilongjiangNsf: FunderIngestConfig =
    cnRosterA(4320323085L, "heilongjiang_nsf", 409, hasAmounts = false)

  /** Zhejiang NSF (CreateZhejiangNSFAwards.ipynb): sub-shape A, §6.7 waiver. */
  def zhejiangNsf: FunderIngestConfig =
    cnRosterA(4320338464L, "zhejiang_nsf", 403, hasAmounts = false)

  /** Guangdong NSF (CreateGuangdongNSFAwards.ipynb): sub-shape B with 万元×10,000 amounts and the
    * 启明星/扬帆 fellowship arms. */
  def guangdongNsf: FunderIngestConfig =
    cnRosterB(4320321921L, "guangdong_nsf", 445, cnArmsStar,
      wanYuanAmounts = true)

  /** Hunan NSF (CreateHunanNSFAwards.ipynb): sub-shape B (启明星/扬帆 arms), §6.7 waiver. */
  def hunanNsf: FunderIngestConfig =
    cnRosterB(4320322843L, "hunan_nsf", 453, cnArmsStar,
      wanYuanAmounts = false)

  /** Jiangxi NSF (CreateJiangxiNSFAwards.ipynb): sub-shape B with 万元×10,000 amounts (the 2024
    * 联合基金 / 2025 重点 rosters) and the 优青/创新研究群体 arms. */
  def jiangxiNsf: FunderIngestConfig =
    cnRosterB(4320322665L, "jiangxi_nsf", 465, cnArmsGroup,
      wanYuanAmounts = true)

  /** Liaoning NSF (CreateLiaoningNSFAwards.ipynb): sub-shape B (优青/创新研究群体 arms), §6.7
    * waiver. */
  def liaoningNsf: FunderIngestConfig =
    cnRosterB(4320323086L, "liaoning_nsf", 471, cnArmsGroup,
      wanYuanAmounts = false)

  /** NSSFC / National Social Science Fund of China
    * (CreateNSSFCAwards.ipynb — the NATIONAL fund, same roster
    * parser): sub-shape B with the minimal 青年/重大/重点/专项
    * cascade. */
  def nssfc: FunderIngestConfig =
    cnRosterB(4320335869L, "nssfc", 475, Seq("青年" -> "fellowship",
      "重大" -> "research", "重点" -> "research", "专项" -> "research"),
      wanYuanAmounts = false)

  /** Shandong NSF (CreateShandongNSFAwards.ipynb, the family's pilot): sub-shape B with the
    * 博士基金-specific arm. */
  def shandongNsf: FunderIngestConfig =
    cnRosterB(4320324174L, "shandong_nsf", 439, Seq(
      "杰出青年" -> "fellowship", "优秀青年" -> "fellowship",
      "青年" -> "fellowship", "博士基金" -> "fellowship",
      "重大" -> "research", "重点" -> "research",
      "联合基金" -> "research"), wanYuanAmounts = false)

  /** Shanghai NSF (CreateShanghaiNSFAwards.ipynb): sub-shape B (启明星/扬帆 arms), §6.7 waiver. */
  def shanghaiNsf: FunderIngestConfig =
    cnRosterB(4320309612L, "shanghai_nsf", 451, cnArmsStar,
      wanYuanAmounts = false)

  // ---------------------------------------------------------------
  // Round-12 eighth tranche: the laureate-prize cards (Kavli, Wolf,
  // Brain, Crafoord, Balzan, Millennium, King Faisal, Dan David)
  // ---------------------------------------------------------------

  /** Year-boundary prize dates: Jan 1 – Dec 31 of the award year,
    * both years equal to it (the shared shape of every laureate
    * prize card). */
  private def prizeYear(yr: Column): (Column, Column, Column, Column) = {
    val ys = yr.try_cast("int")
    (when(ys.isNotNull, d(concat(ys.cast("string"), lit("-01-01")))),
      when(ys.isNotNull, d(concat(ys.cast("string"), lit("-12-31")))),
      ys, ys)
  }

  /** Kavli Prize laureates (CreateKavliPrizeAwards.ipynb): the
    * ':kavli:' mint on the laureate id, 'Kavli Prize in <Field>
    * <year> — <name>' display, NULL amount with a literal USD, the
    * first element of the countries array as the laureate country,
    * slug-else-id landing URL. */
  def kavliPrize: FunderIngestConfig = {
    val (sd, ed, sy, ey) = prizeYear(col("year"))
    val lead = investigator(col("given_name"), col("family_name"),
      nullif(col("institution"), lit("")), element_at(col("countries"), 1))
    FunderIngestConfig(4320306399L, AwardFieldMap(
      provenance = "kavli_nextdata", priority = 49,
      mintKey = concat(lit("kavli:"), lower(col("kavli_laureate_id"))),
      funderAwardId = col("kavli_laureate_id"),
      displayName = concat(lit("Kavli Prize in "), initcap(col("field")),
        lit(" "), col("year").cast("string"), lit(" — "), col("name")),
      description = nullif(col("citation"), lit("")),
      currency = lit("USD"),
      fundingType = lit("prize"),
      funderScheme = initcap(col("field")),
      startDate = sd, endDate = ed, startYear = sy, endYear = ey,
      leadInvestigator = lead,
      landingPageUrl = concat(lit("https://kavliprize.org/laureates/"),
        coalesce(col("slug"), col("kavli_laureate_id"))),
      rowFilter = col("kavli_laureate_id").isNotNull &&
        col("year").isNotNull))
  }

  /** Wolf Prize laureates (CreateWolfPrizeAwards.ipynb): the ':wolf:'
    * slug mint, the 'Various'-fallback field in the display, NULL
    * amount with literal USD, script-side name split kept verbatim. */
  def wolfPrize: FunderIngestConfig = {
    val (sd, ed, sy, ey) = prizeYear(col("year"))
    val lead = investigator(col("given_name"), col("family_name"),
      nullif(col("affiliation"), lit("")), lit(null).cast("string"))
    FunderIngestConfig(4320320951L, AwardFieldMap(
      provenance = "wolf_prize_wp", priority = 47,
      mintKey = concat(lit("wolf:"), lower(col("slug"))),
      funderAwardId = col("slug"),
      displayName = concat(lit("Wolf Prize in "),
        coalesce(col("field"), lit("Various")), lit(" "),
        col("year").cast("string"), lit(" — "), col("name")),
      description = nullif(col("citation"), lit("")),
      currency = lit("USD"),
      fundingType = lit("prize"),
      funderScheme = col("field"),
      startDate = sd, endDate = ed, startYear = sy, endYear = ey,
      leadInvestigator = lead,
      landingPageUrl = col("url"),
      rowFilter = col("slug").isNotNull && col("year").isNotNull))
  }

  /** The Brain Prize (CreateBrainPrizeAwards.ipynb): the
    * source-total ÷ laureate-count per-laureate portion, the
    * year-description-else-profile fallback, the
    * '<year> - <topic> - <name>' display. */
  def brainPrize: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val (sd, ed, sy, ey) = prizeYear(col("award_year"))
    val total = col("source_total_award_amount").try_cast("double")
    val n = col("laureate_count").try_cast("int")
    val lead = investigator(nullif(col("given_name"), lit("")),
      nullif(col("family_name"), lit("")), nullif(col("affiliation"), lit("")),
      lit(null).cast("string"))
    FunderIngestConfig(4320321999L, AwardFieldMap(
      provenance = "brain_prize", priority = 84,
      mintKey = concat(lit("brain-prize:"),
        lower(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("The Brain Prize "), yr.cast("string"),
        lit(" - "), col("award_topic"), lit(" - "), col("laureate_name")),
      description = coalesce(nullif(col("year_description"), lit("")),
        nullif(col("profile_description"), lit(""))),
      amount = when(total.isNotNull && n > 0, total / n),
      currency = nullif(col("currency"), lit("")),
      fundingType = lit("prize"),
      funderScheme = nullif(col("award_topic"), lit("")),
      startDate = sd, endDate = ed, startYear = sy, endYear = ey,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull && yr.isNotNull &&
        col("laureate_name").isNotNull))
  }

  /** Crafoord Prize (CreateCrafoordPrizeAwards.ipynb): the category
    * display/scheme, direct source amount with NULLIF'd currency. */
  def crafoordPrize: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val (sd, ed, sy, ey) = prizeYear(col("award_year"))
    val lead = investigator(nullif(col("given_name"), lit("")),
      nullif(col("family_name"), lit("")), nullif(col("affiliation"), lit("")),
      lit(null).cast("string"))
    FunderIngestConfig(4320320936L, AwardFieldMap(
      provenance = "crafoord_prize", priority = 69,
      mintKey = concat(lit("crafoord-prize:"),
        lower(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Crafoord Prize "), yr.cast("string"),
        lit(" - "), col("prize_category"), lit(" - "),
        col("laureate_name")),
      description = nullif(col("citation"), lit("")),
      amount = col("source_award_amount").try_cast("double"),
      currency = nullif(col("currency"), lit("")),
      fundingType = lit("prize"),
      funderScheme = nullif(col("prize_category"), lit("")),
      startDate = sd, endDate = ed, startYear = sy, endYear = ey,
      leadInvestigator = lead,
      landingPageUrl = nullif(col("landing_page_url"), lit("")),
      rowFilter = col("funder_award_id").isNotNull && yr.isNotNull &&
        col("laureate_name").isNotNull))
  }

  /** Balzan Prize (CreateBalzanPrizeAwards.ipynb): the award-field
    * display/scheme and a laureate lead whose affiliation STRUCT
    * ITSELF is NULL (the foundation publishes none). */
  def balzanPrize: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val (sd, ed, sy, ey) = prizeYear(col("award_year"))
    val lead = struct(
      nullif(col("laureate_given_name"), lit("")).as("given_name"),
      nullif(col("laureate_family_name"), lit("")).as("family_name"),
      lit(null).cast("string").as("orcid"),
      lit(null).cast("date").as("role_start"),
      lit(null).cast(affType).as("affiliation"))
    FunderIngestConfig(4320310930L, AwardFieldMap(
      provenance = "balzan_prize", priority = 76,
      mintKey = concat(lit("balzan-prize:"),
        lower(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Balzan Prize "), yr.cast("string"),
        lit(" - "), col("award_field"), lit(" - "),
        col("laureate_name")),
      description = nullif(col("citation"), lit("")),
      amount = col("source_award_amount").try_cast("double"),
      currency = nullif(col("currency"), lit("")),
      fundingType = lit("prize"),
      funderScheme = nullif(col("award_field"), lit("")),
      startDate = sd, endDate = ed, startYear = sy, endYear = ey,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull && yr.isNotNull &&
        col("laureate_name").isNotNull))
  }

  /** Millennium Technology Prize (CreateMillenniumPrizeAwards
    * .ipynb): the innovation display/scheme and a laureate lead with
    * country-only affiliation. */
  def millenniumPrize: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val (sd, ed, sy, ey) = prizeYear(col("award_year"))
    val lead = investigator(nullif(col("given_name"), lit("")),
      nullif(col("family_name"), lit("")), lit(null).cast("string"),
      nullif(col("country"), lit("")))
    FunderIngestConfig(4320324443L, AwardFieldMap(
      provenance = "millennium_prize",
      priority = 67,
      mintKey = concat(lit("millennium-prize:"),
        lower(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Millennium Technology Prize "),
        yr.cast("string"), lit(" - "), col("innovation"), lit(" - "),
        col("laureate_name")),
      description = nullif(col("profile_description"), lit("")),
      amount = col("source_award_amount").try_cast("double"),
      currency = nullif(col("currency"), lit("")),
      fundingType = lit("prize"),
      funderScheme = nullif(col("innovation"), lit("")),
      startDate = sd, endDate = ed, startYear = sy, endYear = ey,
      leadInvestigator = lead,
      landingPageUrl = nullif(col("landing_page_url"), lit("")),
      rowFilter = col("funder_award_id").isNotNull && yr.isNotNull &&
        col("laureate_name").isNotNull))
  }

  /** King Faisal Prize (CreateKingFaisalPrizeAwards.ipynb): the
    * prize-title display/scheme, the citation→meta→quote→topic
    * description cascade, a names-only lead, trimmed mint key. */
  def kingFaisalPrize: FunderIngestConfig = {
    val yr = col("parsed_award_year").try_cast("int")
    val (sd, ed, sy, ey) = prizeYear(col("parsed_award_year"))
    val lead = investigator(nullif(col("laureate_given_name"), lit("")),
      nullif(col("laureate_family_name"), lit("")), lit(null).cast("string"),
      lit(null).cast("string"))
    FunderIngestConfig(4320323301L, AwardFieldMap(
      provenance = "king_faisal_prize",
      priority = 87,
      mintKey = concat(lit("king_faisal_prize:"),
        lower(trim(col("funder_award_id")))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(col("prize_title"), lit(" "),
        yr.cast("string"), lit(" - "), col("laureate_name")),
      description = coalesce(nullif(col("citation"), lit("")),
        nullif(col("meta_description"), lit("")),
        nullif(col("quote"), lit("")), nullif(col("topic"), lit(""))),
      amount = col("parsed_amount").try_cast("double"),
      currency = nullif(col("currency"), lit("")),
      fundingType = lit("prize"),
      funderScheme = col("prize_title"),
      startDate = sd, endDate = ed, startYear = sy, endYear = ey,
      leadInvestigator = lead,
      landingPageUrl = nullif(col("landing_page_url"), lit("")),
      rowFilter = lit(true)))
  }

  /** Dan David Prize (CreateDanDavidPrizeAwards.ipynb): the
    * name-only display, profile-else-research-topic description. */
  def danDavidPrize: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val (sd, ed, sy, ey) = prizeYear(col("award_year"))
    val lead = investigator(nullif(col("given_name"), lit("")),
      nullif(col("family_name"), lit("")), nullif(col("affiliation"), lit("")),
      lit(null).cast("string"))
    FunderIngestConfig(4320320949L, AwardFieldMap(
      provenance = "dan_david_prize",
      priority = 68,
      mintKey = concat(lit("dan-david-prize:"),
        lower(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Dan David Prize "), yr.cast("string"),
        lit(" - "), col("laureate_name")),
      description = coalesce(nullif(col("profile_description"),
        lit("")), nullif(col("research_topic"), lit(""))),
      amount = col("source_award_amount").try_cast("double"),
      currency = nullif(col("currency"), lit("")),
      fundingType = lit("prize"),
      funderScheme = nullif(col("research_topic"), lit("")),
      startDate = sd, endDate = ed, startYear = sy, endYear = ey,
      leadInvestigator = lead,
      landingPageUrl = nullif(col("landing_page_url"), lit("")),
      rowFilter = col("funder_award_id").isNotNull && yr.isNotNull &&
        col("laureate_name").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-12 ninth tranche: FAPEMIG, Carlsberg, Deutsche Krebshilfe,
  // Wenner-Gren, Fritz Thyssen, Welch
  // ---------------------------------------------------------------

  /** FAPEMIG / Minas Gerais projetos contratados
    * (CreateFAPEMIGAwards.ipynb, ~24K): the 'fapemig-' prefix strip
    * with an UPPERCASED native id, trimmed text, type-else-'grant'
    * and scheme→modalidade→literal cascades, date-else-source-year
    * coverage, a coordinator-gated 'BR' lead with role_start =
    * start. */
  def fapemig: FunderIngestConfig = {
    val nativeId = upper(regexp_replace(trim(col("funder_award_id")),
      "^(?i)fapemig-", ""))
    val sd = d(col("start_date"))
    val ed = d(col("end_date"))
    val py = col("source_year").try_cast("int")
    val lead = when(col("coordinator").isNotNull &&
        trim(col("coordinator")) =!= "",
      investigator(nullif(trim(col("coordinator_given_name")), lit("")),
        nullif(trim(col("coordinator_family_name")), lit("")),
        nullif(trim(col("instituicaoexecutora_nome")), lit("")), lit("BR"),
        roleStart = sd))
    FunderIngestConfig(4320322980L, AwardFieldMap(
      provenance = "fapemig_projetos_contratados",
      priority = 142,
      mintKey = lower(nativeId),
      funderAwardId = nativeId,
      displayName = trim(col("display_name")),
      description = nullif(trim(col("description")), lit("")),
      amount = col("amount").try_cast("double"),
      currency = nullif(trim(col("currency")), lit("")),
      fundingType = coalesce(nullif(trim(col("funding_type")), lit("")),
        lit("grant")),
      funderScheme = coalesce(nullif(trim(col("funder_scheme")), lit("")),
        nullif(trim(col("modalidade")), lit("")),
        lit("Projetos contratados")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), py),
      endYear = coalesce(year(ed), py),
      leadInvestigator = lead,
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull && trim(col("display_name")) =!= ""))
  }

  /** Carlsbergfondet grants DB (CreateCarlsbergFondetAwards.ipynb):
    * NULL description, source currency, BOTH years from the award
    * year, an applicant-gated lead with role_start = start and no
    * country. (The `declined` passthrough is not part of the landed
    * 24-column shape.) */
  def carlsbergFondet: FunderIngestConfig = {
    val sd = d(col("start_date"))
    val yr = col("year").try_cast("int")
    val lead = when(col("applicant_name").isNotNull &&
        col("applicant_name") =!= "",
      investigator(col("given_name"), col("family_name"), col("institution"),
        lit(null).cast("string"), roleStart = sd))
    FunderIngestConfig(4320321504L, AwardFieldMap(
      provenance = "carlsberg_fondet",
      priority = 121,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("grant"),
      funderScheme = col("type_of_grant"),
      startDate = sd, endDate = d(col("end_date")),
      startYear = yr, endYear = yr,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("display_name").isNotNull))
  }

  /** The grant-card archetype (Deutsche Krebshilfe / DOE Office of
    * Science / FRQNT / FRQS are exact twins): title-fallback
    * display, >0 decimal gate with source currency, 'grant',
    * PI-else-institution lead with a literal country, NULL
    * works_api_url; the date/year coverage varies per card
    * (`fullDates` surfaces the parsed dates; `endYearFromRaw` keeps
    * the raw end year). */
  private def grantCard(funderId: Long, provenance: String,
      priority: Int, fallbackPrefix: String, country: String,
      fullDates: Boolean, endYearFromRaw: Boolean,
      dateFmt: String = "yyyy-MM-dd", mintSalt: Option[Column] = None,
      doiFromRaw: Boolean = false, orgFallback: Boolean = true,
      requireId: Boolean = true): FunderIngestConfig = {
    val amt = col("amount").try_cast("decimal(18,2)")
    def dFmt(c: Column): Column =
      to_date(try_to_timestamp(c, lit(dateFmt)))
    val sdRaw = dFmt(col("start_date_raw"))
    val edRaw = dFmt(col("end_date_raw"))
    val named = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit(country)))
    val lead = if (orgFallback)
      named.when(col("institution").isNotNull,
        investigator(lit(null).cast("string"), lit(null).cast("string"),
          col("institution"), lit(country)))
    else named
    FunderIngestConfig(funderId, AwardFieldMap(
      provenance = provenance, priority = priority,
      mintKey = mintSalt.foldLeft(lower(col("funder_award_id")))(
        (base, salt) => concat(base, lit(":"), salt)),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("title")), lit("")),
        concat(lit(fallbackPrefix), col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startDate = if (fullDates) sdRaw else lit(null).cast("date"),
      endDate = if (fullDates) edRaw else lit(null).cast("date"),
      startYear = year(sdRaw),
      endYear = if (endYearFromRaw) year(edRaw) else lit(null).cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      doi = if (doiFromRaw) col("doi") else lit(null).cast("string"),
      rowFilter = if (requireId) col("funder_award_id").isNotNull
        else lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Deutsche Krebshilfe (CreateDeutscheKrebshilfeAwards.ipynb): the
    * [[grantCard]] archetype with year-only coverage (NULL dates,
    * both years from the date-raws), 'Germany'. */
  def deutscheKrebshilfe: FunderIngestConfig =
    grantCard(4320323556L, "deutsche_krebshilfe", 222,
      "Deutsche Krebshilfe grant ", "Germany", fullDates = false,
      endYearFromRaw = true)

  /** DOE Office of Science (CreateDOEOffSciAwards.ipynb, ~21K
    * grants ~$26B — the direct CFDA 81.049 channel, distinct from
    * the USAspending DOE slice): [[grantCard]] with full dates,
    * 'United States'. */
  def doeOffSci: FunderIngestConfig =
    grantCard(4320332359L, "doe_sc", 381,
      "DOE Office of Science grant ", "United States",
      fullDates = true, endYearFromRaw = true)

  /** FRQNT / Fonds de recherche du Québec – Nature et technologies
    * (CreateFRQNTAwards.ipynb, ~9.5K Dossiers): [[grantCard]] with
    * NULL dates and start-year-only coverage, 'Canada'. */
  def frqnt: FunderIngestConfig =
    grantCard(4320334841L, "frqnt", 391, "FRQNT grant ", "Canada",
      fullDates = false, endYearFromRaw = false)

  /** FRQS / Fonds de recherche du Québec – Santé
    * (CreateFRQSAwards.ipynb, ~5.7K): the FRQNT twin. */
  def frqs: FunderIngestConfig =
    grantCard(4320334618L, "frqs", 389, "FRQS grant ", "Canada",
      fullDates = false, endYearFromRaw = false)

  /** EMBO Young Investigators / Installation / Global Investigator
    * awardees (CreateEMBOAwards.ipynb, 878): 'fellowship' with the
    * programme-name scheme, §6.7 waiver, year-boundary dates, a
    * PI-gated lead with the source-carried country, NULL
    * works_api_url; no row filter. */
  def embo: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        col("country")))
    FunderIngestConfig(4320307844L, AwardFieldMap(
      provenance = "embo", priority = 241,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("fellowship"),
      funderScheme = col("programme_name"),
      startDate = when(col("start_year").try_cast("int").isNotNull,
        d(concat(col("start_year"), lit("-01-01")))),
      endDate = when(col("end_year").try_cast("int").isNotNull,
        d(concat(col("end_year"), lit("-12-31")))),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** The Wenner-Gren in-source dedup (CreateWennerGrenAwards.ipynb's
    * raw_prepared QUALIFY): the scrape carries duplicate rows per
    * grant number — keep one per stripped-lowered number, lowest
    * slug wins. Run BEFORE [[wennerGren]]. */
  def wennerGrenDedup(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    raw.filter(col("grantee_name").isNotNull &&
        trim(col("grantee_name")) =!= "" &&
        col("grant_number").isNotNull && trim(col("grant_number")) =!= "")
      .withColumn("__rn", row_number().over(Window
        .partitionBy(lower(regexp_replace(trim(col("grant_number")),
          "^Gr[.][ ]*", "")))
        .orderBy(col("slug"))))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Wenner-Gren Foundation grantees (CreateWennerGrenAwards.ipynb,
    * ~42K): the 'Gr. ' display-prefix strip on the citable number,
    * grantee-as-display with the project title as description, the
    * fellowship/travel regex split, approval-date coverage, an
    * UNCONDITIONAL grantee lead (country left inside the unsplit
    * affiliation string), §6.7 waiver. */
  def wennerGren: FunderIngestConfig = {
    val nativeId = regexp_replace(trim(col("grant_number")),
      "^Gr[.][ ]*", "")
    val gt = lower(coalesce(col("grant_type"), lit("")))
    val sd = d(col("approve_date_iso"))
    val lead = investigator(nullif(trim(col("given_name")), lit("")),
      nullif(trim(col("family_name")), lit("")),
      nullif(trim(col("affiliation")), lit("")), lit(null).cast("string"),
      roleStart = sd)
    FunderIngestConfig(4320306550L, AwardFieldMap(
      provenance = "wenner_gren_grantees",
      priority = 110,
      mintKey = lower(nativeId),
      funderAwardId = nativeId,
      displayName = col("grantee_name"),
      description = col("project_title"),
      fundingType = when(gt.rlike(
          "fellowship|scholarship|postdoc|dissertation|traineeship"),
          "fellowship")
        .when(gt.rlike("conference|workshop|symposium"), "travel")
        .otherwise("research"),
      funderScheme = coalesce(nullif(trim(col("grant_type")), lit("")),
        lit("Wenner-Gren Foundation Grant")),
      startDate = sd,
      startYear = col("approve_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true)))
  }

  /** Fritz Thyssen Stiftung fundings
    * (CreateFritzThyssenAwards.ipynb): §6.7 waiver, the
    * foerderbereich-else-literal scheme, approval-year-only
    * coverage, a lead that fires unless PI given AND family AND
    * institution are ALL NULL ('DE', role_start = Jan 1). */
  def fritzThyssen: FunderIngestConfig = {
    val sd = d(concat(col("bewilligung_year"), lit("-01-01")))
    val lead = when(!(col("pi_given_name").isNull &&
        col("pi_family_name").isNull && col("institution").isNull),
      investigator(nullif(trim(col("pi_given_name")), lit("")),
        nullif(trim(col("pi_family_name")), lit("")),
        nullif(trim(col("institution")), lit("")), lit("DE"), roleStart = sd))
    FunderIngestConfig(4320321876L, AwardFieldMap(
      provenance = "fritz_thyssen_fundings",
      priority = 117,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      fundingType = lit("research"),
      funderScheme = coalesce(nullif(trim(col("foerderbereich")),
        lit("")), lit("Fritz Thyssen Funding")),
      startDate = sd,
      startYear = col("bewilligung_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("title").isNotNull && trim(col("title")) =!= "" &&
        col("funder_award_id").isNotNull))
  }

  /** Welch Foundation awards (CreateWelchAwards.ipynb): 'prize'
    * type across both named schemes (Welch Award in Chemistry /
    * Norman Hackerman Award), substring years, a name-gated lead
    * with role_start = start and the GraphQL recipientAffiliation. */
  def welch: FunderIngestConfig = {
    val sd = d(col("start_date"))
    val lead = when(col("name").isNotNull && col("name") =!= "",
      investigator(col("given_name"), col("family_name"), col("affiliation"),
        lit(null).cast("string"), roleStart = sd))
    FunderIngestConfig(4320306196L, AwardFieldMap(
      provenance = "welch_foundation",
      priority = 102,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("prize"),
      funderScheme = col("scheme"),
      startDate = sd, endDate = d(col("end_date")),
      startYear = substring(col("start_date"), 1, 4).try_cast("int"),
      endYear = substring(col("end_date"), 1, 4).try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("name").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-12 tenth tranche: RJ, Velux Stiftung, Helmsley, Searle
  // Scholars, Rita Allen
  // ---------------------------------------------------------------

  /** Riksbankens Jubileumsfond (CreateRJAwards.ipynb, ~1.7K English
    * grant pages): reference_number award id, approval-year-only
    * coverage, the funding-programme-else-'RJ Grant' scheme, a lead
    * gated on the grant administrator ('SE', role_start = Jan 1). */
  def rjJubileumsfond: FunderIngestConfig = {
    val sd = d(concat(col("award_year"), lit("-01-01")))
    val lead = when(col("grant_administrator").isNotNull,
      investigator(nullif(trim(col("pi_given_name")), lit("")),
        nullif(trim(col("pi_family_name")), lit("")),
        nullif(trim(col("grant_administrator")), lit("")), lit("SE"),
        roleStart = sd))
    FunderIngestConfig(4320322659L, AwardFieldMap(
      provenance = "rj_jubileumsfond_grants",
      priority = 118,
      mintKey = lower(col("reference_number")),
      funderAwardId = col("reference_number"),
      displayName = col("title"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("research"),
      funderScheme = coalesce(nullif(trim(col("funding_program")),
        lit("")), lit("RJ Grant")),
      startDate = sd,
      startYear = col("award_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("title").isNotNull && trim(col("title")) =!= "" &&
        col("funder_award_id").isNotNull))
  }

  /** Velux Stiftung projects (CreateVeluxStiftungAwards.ipynb):
    * year-boundary dates from start/end years, the
    * type-names-else-literal scheme, NO investigator slots (the
    * org-level precedent), the `link` landing column. */
  def veluxStiftung: FunderIngestConfig = {
    val sd = d(concat(col("start_year"), lit("-01-01")))
    val ed = d(concat(col("end_year"), lit("-12-31")))
    FunderIngestConfig(4320309607L, AwardFieldMap(
      provenance = "velux_stiftung_projects",
      priority = 115,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("research"),
      funderScheme = coalesce(nullif(trim(col("type_names")), lit("")),
        lit("Velux Stiftung Project")),
      startDate = sd, endDate = ed,
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      landingPageUrl = col("link"),
      rowFilter = col("title").isNotNull && trim(col("title")) =!= "" &&
        col("funder_award_id").isNotNull))
  }

  /** Helmsley Charitable Trust grants (CreateHelmsleyAwards.ipynb):
    * title-else-recipient display with the title doubling as the
    * description, literal USD, award-date start with year-only
    * coverage, an UNCONDITIONAL org-level 'US' recipient lead. */
  def helmsley: FunderIngestConfig = {
    val sd = d(col("award_date_iso"))
    val lead = investigator(lit(null).cast("string"), lit(null).cast("string"),
      nullif(trim(col("recipient")), lit("")), lit("US"), roleStart = sd)
    FunderIngestConfig(4320309446L, AwardFieldMap(
      provenance = "helmsley_grants",
      priority = 112,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("project_title")),
        lit("")), col("recipient")),
      description = col("project_title"),
      amount = col("amount").try_cast("double"),
      currency = lit("USD"),
      fundingType = lit("grant"),
      funderScheme = coalesce(nullif(trim(col("program")), lit("")),
        lit("Helmsley Charitable Trust Grant")),
      startDate = sd,
      startYear = col("award_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("recipient").isNotNull &&
        trim(col("recipient")) =!= "" &&
        col("funder_award_id").isNotNull))
  }

  /** Searle Scholars (CreateSearleScholarsAwards.ipynb): the
    * 'Searle Scholar - <name> (<year>)' display, the THREE-year
    * programme span (end_year = year + 2) with NULL dates, a
    * name-gated 'US' lead (eligibility is US-only). */
  def searleScholars: FunderIngestConfig = {
    val yr = col("year").try_cast("int")
    val lead = when(col("name").isNotNull && col("name") =!= "",
      investigator(col("given_name"), col("family_name"), col("institution"),
        lit("US")))
    FunderIngestConfig(4320314849L, AwardFieldMap(
      provenance = "searle_scholars",
      priority = 133,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Searle Scholar - "), col("name"),
        lit(" ("), col("year"), lit(")")),
      description = col("research_title"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("research"),
      funderScheme = lit("Searle Scholars Program"),
      startYear = yr, endYear = yr + 2,
      leadInvestigator = lead,
      landingPageUrl = coalesce(col("profile_url"),
        col("landing_page_url")),
      rowFilter = col("funder_award_id").isNotNull &&
        col("name").isNotNull))
  }

  /** Rita Allen Foundation Scholars (CreateRitaAllenAwards.ipynb):
    * scholar-as-display with the bio as description, the literal
    * scheme, §6.7 waiver, an UNCONDITIONAL scholar lead (country
    * not exposed structured), the scholar-year landing URL. */
  def ritaAllen: FunderIngestConfig = {
    val sd = d(concat(col("award_year"), lit("-01-01")))
    val lead = investigator(nullif(trim(col("given_name")), lit("")),
      nullif(trim(col("family_name")), lit("")),
      nullif(trim(col("institution")), lit("")), lit(null).cast("string"),
      roleStart = sd)
    FunderIngestConfig(4320306590L, AwardFieldMap(
      provenance = "rita_allen_scholars",
      priority = 107,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("scholar_name"),
      description = col("bio"),
      fundingType = lit("fellowship"),
      funderScheme = lit("Rita Allen Foundation Scholar"),
      startDate = sd,
      startYear = col("award_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("scholar_year_url"),
      rowFilter = col("scholar_name").isNotNull &&
        trim(col("scholar_name")) =!= "" &&
        col("funder_award_id").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-12 twelfth tranche: Mott, Lister, Cottrell Scholars,
  // Dreyfus
  // ---------------------------------------------------------------

  /** C.S. Mott Foundation grants (CreateMottAwards.ipynb): literal
    * USD, the 'program / initiative' scheme assembly with a literal
    * fallback, full dates with the start year source-carried and the
    * end year date-derived, an UNCONDITIONAL org-level 'US'
    * recipient lead. */
  def mott: FunderIngestConfig = {
    val sd = d(col("start_date"))
    val ed = d(col("end_date"))
    val prog = trim(col("program"))
    val init = trim(col("initiative"))
    val lead = investigator(lit(null).cast("string"), lit(null).cast("string"),
      nullif(trim(col("recipient")), lit("")), lit("US"), roleStart = sd)
    FunderIngestConfig(4320307861L, AwardFieldMap(
      provenance = "mott_grants", priority = 113,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = lit("USD"),
      fundingType = lit("grant"),
      funderScheme = when(col("initiative").isNotNull && init =!= "" &&
          col("program").isNotNull && prog =!= "",
          concat(prog, lit(" / "), init))
        .when(col("program").isNotNull && prog =!= "", prog)
        .otherwise(lit("Mott Foundation Grant")),
      startDate = sd, endDate = ed,
      startYear = col("start_year").try_cast("int"),
      endYear = year(ed),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("title").isNotNull && trim(col("title")) =!= "" &&
        col("funder_award_id").isNotNull))
  }

  /** Lister Institute Research Prize Fellowships
    * (CreateListerAwards.ipynb): §6.7 waiver, the literal scheme,
    * banded years with BOTH boundary dates at Jan 1 (the
    * reference's own end-date quirk) and ASYMMETRIC bands
    * (1980-2027 start vs 1980-2035 end), a PI-gated 'United
    * Kingdom' lead, NULL landing and works URLs; no row filter. */
  def lister: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val ey = col("end_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United Kingdom")))
    FunderIngestConfig(4320320615L, AwardFieldMap(
      provenance = "lister", priority = 255,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("fellowship"),
      funderScheme = lit("Lister Research Prize Fellowship"),
      startDate = when(sy.between(1980, 2027),
        d(concat(col("start_year"), lit("-01-01")))),
      endDate = when(ey.between(1980, 2035),
        d(concat(col("end_year"), lit("-01-01")))),
      startYear = when(sy.between(1980, 2027), sy),
      endYear = when(ey.between(1980, 2035), ey),
      leadInvestigator = lead,
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Cottrell Scholars (CreateCottrellScholarsAwards.ipynb): the
    * '<name> (<discipline>, <year>)' display, the ASSEMBLED
    * 'Cottrell Scholar Award in <discipline> at <institution>
    * (<type>)' description with 'science'/'(institution unknown)'
    * fallbacks, the three-year term, a name-gated lead with the
    * source country. */
  def cottrellScholars: FunderIngestConfig = {
    val yr = col("year").try_cast("int")
    val lead = when(col("name").isNotNull && col("name") =!= "",
      investigator(col("given_name"), col("family_name"), col("institution"),
        col("country")))
    FunderIngestConfig(4320306487L, AwardFieldMap(
      provenance = "cottrell_scholars",
      priority = 135,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Cottrell Scholar - "), col("name"),
        lit(" ("), col("discipline"), lit(", "), col("year"), lit(")")),
      description = concat(lit("Cottrell Scholar Award in "),
        coalesce(col("discipline"), lit("science")),
        when(col("institution_type").isNotNull,
          concat(lit(" at "), col("institution"), lit(" ("),
            col("institution_type"), lit(")")))
          .otherwise(concat(lit(" at "),
            coalesce(col("institution"), lit("(institution unknown)"))))),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("research"),
      funderScheme = lit("Cottrell Scholar Award"),
      startYear = yr, endYear = yr + 2,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("name").isNotNull))
  }

  /** Dreyfus Foundation awards (CreateDreyfusAwards.ipynb): the
    * '<scheme> - <name>' display with the research title as
    * description, source-carried funding_type/currency, year-only
    * coverage, a name-gated lead whose country stays NULL (US+CA
    * eligibility, never inferred). */
  def dreyfus: FunderIngestConfig = {
    val lead = when(col("name").isNotNull && col("name") =!= "",
      investigator(col("given_name"), col("family_name"), col("institution"),
        lit(null).cast("string")))
    FunderIngestConfig(4320306315L, AwardFieldMap(
      provenance = "dreyfus_foundation",
      priority = 131,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(col("scheme_label"), lit(" - "), col("name")),
      description = col("research_title"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = col("funding_type"),
      funderScheme = col("scheme_label"),
      startYear = col("year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("name").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-12 thirteenth tranche: Lasker, Blavatnik, Vilcek, Packard
  // ---------------------------------------------------------------

  /** Lasker Awards (CreateLaskerAwards.ipynb): the composite
    * (wp_post_id, laureate_term_id) identity — COLON-joined in the
    * mint but DASH-joined in the award id — the 'Lasker <award>
    * Award <year> — <name>' display, NULL amount with literal USD,
    * an UNCONDITIONAL laureate lead whose parsed affiliation keeps
    * 'formerly at X' entries verbatim. */
  def lasker: FunderIngestConfig = {
    val (sd, ed, sy, ey) = prizeYear(col("year"))
    val lead = investigator(col("laureate_given_name"),
      col("laureate_family_name"), nullif(col("affiliation"), lit("")),
      lit(null).cast("string"))
    FunderIngestConfig(4320311370L, AwardFieldMap(
      provenance = "lasker_wp", priority = 48,
      mintKey = concat(lit("lasker:"), col("wp_post_id").cast("string"),
        lit(":"), col("laureate_term_id").cast("string")),
      funderAwardId = concat(col("wp_post_id").cast("string"), lit("-"),
        col("laureate_term_id").cast("string")),
      displayName = concat(lit("Lasker "), col("award_name"),
        lit(" Award "), col("year").cast("string"), lit(" — "),
        col("laureate_name")),
      description = nullif(col("achievement_title"), lit("")),
      currency = lit("USD"),
      fundingType = lit("prize"),
      funderScheme = col("award_name"),
      startDate = sd, endDate = ed, startYear = sy, endYear = ey,
      leadInvestigator = lead,
      landingPageUrl = col("url"),
      rowFilter = col("laureate_name").isNotNull &&
        col("year").isNotNull))
  }

  /** Blavatnik Awards (CreateBlavatnikAwards.ipynb): the
    * '<year> Blavatnik <region> Award <status> - <role> - <name>'
    * display over NULLIF-trimmed norms with 'Unknown'/'Honoree'
    * fallbacks, the declined-prefix description, the assembled
    * region/role/status scheme, and SEPTEMBER 1-30 ceremony-month
    * dates. */
  def blavatnik: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val region = nzt(col("region"))
    val status = nzt(col("status"))
    val role = nzt(col("role"))
    val citation = nzt(col("citation"))
    val declined = col("declined").try_cast("boolean")
    val lead = investigator(nzt(col("given_name")), nzt(col("family_name")),
      nzt(col("institution")), lit(null).cast("string"))
    FunderIngestConfig(4320312914L, AwardFieldMap(
      provenance = "blavatnikawards_org",
      priority = 64,
      mintKey = concat(lit("blavatnik:"), lower(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(yr.cast("string"), lit(" Blavatnik "),
        coalesce(region, lit("Unknown")), lit(" Award "),
        coalesce(status, lit("Honoree")),
        when(role.isNotNull, concat(lit(" - "), role)).otherwise(lit("")),
        lit(" - "), nzt(col("laureate_name"))),
      description = when(declined && citation.isNotNull,
          concat(lit("Declined the prize. "), citation))
        .when(declined, lit("Declined the prize."))
        .otherwise(citation),
      amount = col("amount_usd").try_cast("double"),
      currency = nzt(col("currency")),
      fundingType = lit("prize"),
      funderScheme = concat(lit("Blavatnik "),
        coalesce(region, lit("Unknown")), lit(" Award - "),
        coalesce(role, lit("Honoree")), lit(" "),
        coalesce(status, lit("Honoree"))),
      startDate = when(yr.isNotNull,
        d(concat(yr.cast("string"), lit("-09-01")))),
      endDate = when(yr.isNotNull,
        d(concat(yr.cast("string"), lit("-09-30")))),
      startYear = yr, endYear = yr,
      leadInvestigator = lead,
      landingPageUrl = col("profile_url"),
      rowFilter = col("funder_award_id").isNotNull && yr.isNotNull &&
        nullif(trim(col("laureate_name")), lit("")).isNotNull))
  }

  /** Vilcek Foundation prizes (CreateVilcekAwards.ipynb):
    * source-shaped display/description, 'prize', full dates with
    * substring years, a name-gated lead with role_start = start and
    * the source-carried country. */
  def vilcek: FunderIngestConfig = {
    val sd = d(col("start_date"))
    val lead = when(col("name").isNotNull && col("name") =!= "",
      investigator(col("given_name"), col("family_name"), col("affiliation"),
        col("country"), roleStart = sd))
    FunderIngestConfig(4320307087L, AwardFieldMap(
      provenance = "vilcek_foundation",
      priority = 105,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("prize"),
      funderScheme = col("scheme"),
      startDate = sd, endDate = d(col("end_date")),
      startYear = substring(col("start_date"), 1, 4).try_cast("int"),
      endYear = substring(col("end_date"), 1, 4).try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("name").isNotNull))
  }

  /** Packard Fellowships for Science and Engineering
    * (CreatePackardFellowsAwards.ipynb): §6.7 waiver, the literal
    * scheme, the FIVE-year term (end_year = fellowship year + 4)
    * beside full dates, a full-name-gated lead with role_start =
    * start and the profile landing URL. */
  def packardFellows: FunderIngestConfig = {
    val sd = d(col("start_date"))
    val fy = col("fellowship_year").try_cast("int")
    val lead = when(col("full_name").isNotNull &&
        col("full_name") =!= "",
      investigator(col("given_name"), col("family_name"),
        col("fellowship_institution"), lit(null).cast("string"),
        roleStart = sd))
    FunderIngestConfig(4320306079L, AwardFieldMap(
      provenance = "packard_fellows_directory",
      priority = 95,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      fundingType = lit("fellowship"),
      funderScheme = lit("Packard Fellowships for Science and Engineering"),
      startDate = sd, endDate = d(col("end_date")),
      startYear = fy, endYear = fy + 4,
      leadInvestigator = lead,
      landingPageUrl = col("profile_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("full_name").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-12 fourteenth tranche: Gruber, Lemelson-MIT, Warren Alpert
  // ---------------------------------------------------------------

  /** Gruber Prizes (CreateGruberPrizesAwards.ipynb): the
    * science-prize category allowlist (Cosmology / Genetics /
    * Neuroscience — the foundation's justice/women's-rights prizes
    * are NOT research awards), the total ÷ laureate-count portion,
    * teaser→profile→bio description cascade, names-only laureate
    * lead, recipient-else-prize profile landing. */
  def gruberPrizes: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val (sd, ed, _, _) = prizeYear(col("award_year"))
    val total = col("source_total_award_amount").try_cast("double")
    val n = col("laureate_count").try_cast("double")
    val lead = investigator(nullif(col("laureate_given_name"), lit("")),
      nullif(col("laureate_family_name"), lit("")), lit(null).cast("string"),
      lit(null).cast("string"))
    FunderIngestConfig(4320312392L, AwardFieldMap(
      provenance = "gruber_prizes", priority = 85,
      mintKey = concat(lit("gruber_prizes:"),
        lower(trim(col("funder_award_id")))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(col("source_title"), lit(" - "),
        col("laureate_name")),
      description = coalesce(nullif(col("source_teaser"), lit("")),
        nullif(col("prize_profile_text"), lit("")),
        nullif(col("recipient_bio_text"), lit(""))),
      amount = when(total.isNotNull && n > 0, total / n),
      currency = nullif(col("source_currency"), lit("")),
      fundingType = lit("prize"),
      funderScheme = concat(lit("Gruber "), col("prize_category"),
        lit(" Prize")),
      startDate = sd, endDate = ed, startYear = yr, endYear = yr,
      leadInvestigator = lead,
      landingPageUrl = coalesce(
        nullif(col("recipient_profile_url"), lit("")),
        nullif(col("prize_detail_url"), lit(""))),
      rowFilter = col("funder_award_id").isNotNull &&
        col("laureate_name").isNotNull &&
        col("prize_category").isin("Cosmology", "Genetics",
          "Neuroscience") && yr.isNotNull))
  }

  /** Lemelson-MIT Prize/program awards (CreateLemelsonMITAwards
    * .ipynb): 'prize' with the programme scheme and source currency,
    * full dates with substring years, a name-gated lead with
    * role_start = start and the source country. */
  def lemelsonMit: FunderIngestConfig = {
    val sd = d(col("start_date"))
    val lead = when(col("name").isNotNull && col("name") =!= "",
      investigator(col("given_name"), col("family_name"), col("affiliation"),
        col("country"), roleStart = sd))
    FunderIngestConfig(4320314845L, AwardFieldMap(
      provenance = "lemelson_mit", priority = 103,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("prize"),
      funderScheme = col("program"),
      startDate = sd, endDate = d(col("end_date")),
      startYear = substring(col("start_date"), 1, 4).try_cast("int"),
      endYear = substring(col("end_date"), 1, 4).try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("name").isNotNull))
  }

  /** Warren Alpert Foundation Prize (CreateWarrenAlpertPrizeAwards
    * .ipynb): the LOWERED native award id reused verbatim as the
    * mint key (no second lower), trimmed text, scheme-else-literal
    * fallback, date-else-source-year coverage, an UNCONDITIONAL
    * trimmed laureate lead with role_start = start. */
  def warrenAlpertPrize: FunderIngestConfig = {
    val nativeId = lower(trim(col("funder_award_id")))
    val sd = d(col("start_date"))
    val ed = d(col("end_date"))
    val py = col("source_year").try_cast("int")
    val lead = investigator(nullif(trim(col("given_name")), lit("")),
      nullif(trim(col("family_name")), lit("")),
      nullif(trim(col("affiliation_raw")), lit("")), lit(null).cast("string"),
      roleStart = sd)
    FunderIngestConfig(4320307125L, AwardFieldMap(
      provenance = "warren_alpert_prize",
      priority = 126,
      mintKey = nativeId,
      funderAwardId = nativeId,
      displayName = trim(col("display_name")),
      description = nullif(trim(col("description")), lit("")),
      amount = col("amount").try_cast("double"),
      currency = nullif(trim(col("currency")), lit("")),
      fundingType = lit("prize"),
      funderScheme = coalesce(nullif(trim(col("funder_scheme")),
        lit("")), lit("Warren Alpert Foundation Prize")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), py),
      endYear = coalesce(year(ed), py),
      leadInvestigator = lead,
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull && trim(col("display_name")) =!= ""))
  }

  // ---------------------------------------------------------------
  // Round-12 fifteenth tranche: Klingenstein-Simons, BBRF, Nuffield
  // ---------------------------------------------------------------

  /** Klingenstein-Simons Fellowship Awards in Neuroscience
    * (CreateKlingensteinSimonsAwards.ipynb): §6.7 waiver, the
    * '<scheme> - <name> (<year>)' display, year-only coverage, a
    * name-gated 'US' lead (the programme's eligibility). */
  def klingensteinSimons: FunderIngestConfig = {
    val lead = when(col("name").isNotNull && col("name") =!= "",
      investigator(col("given_name"), col("family_name"), col("institution"),
        lit("US")))
    FunderIngestConfig(4320306403L, AwardFieldMap(
      provenance = "klingenstein_simons",
      priority = 147,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(col("scheme_label"), lit(" - "), col("name"),
        when(col("year").isNotNull,
          concat(lit(" ("), col("year"), lit(")"))).otherwise(lit(""))),
      description = col("research_title"),
      fundingType = lit("fellowship"),
      funderScheme = col("scheme_label"),
      startYear = col("year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("name").isNotNull))
  }

  /** BBRF / Brain & Behavior Research Foundation NARSAD grants
    * (CreateBBRFAwards.ipynb): the KNOWN-STIPEND table (Young
    * Investigator $70K, Independent/Distinguished $100K — the
    * foundation's fixed tiers — with an exact-tier-gated USD), the
    * '<type> awarded for <illness>-focused research.' description
    * assembly, and the named-prize regex arm. */
  def bbrf: FunderIngestConfig = {
    val gt = lower(col("grant_type"))
    val lead = when(col("name").isNotNull && col("name") =!= "",
      investigator(col("given_name"), col("family_name"), col("institution"),
        col("country")))
    FunderIngestConfig(4320306147L, AwardFieldMap(
      provenance = "bbrf_narsad", priority = 137,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("BBRF "),
        coalesce(col("grant_type"), lit("Grant")),
        when(col("grant_year").isNotNull,
          concat(lit(" ("), col("grant_year"), lit(")")))
          .otherwise(lit("")),
        lit(" - "), col("name")),
      description = when(col("grant_type").isNotNull &&
          col("illness").isNotNull && col("illness") =!= "",
          concat(col("grant_type"), lit(" awarded for "), col("illness"),
            lit("-focused research.")))
        .when(col("grant_type").isNotNull,
          concat(col("grant_type"), lit("."))),
      amount = when(gt === "young investigator", 70000.0)
        .when(gt === "independent investigator", 100000.0)
        .when(gt === "distinguished investigator", 100000.0),
      currency = when(gt.rlike(
        "^(young|independent|distinguished) investigator$"), "USD"),
      fundingType = when(gt.rlike(
          "young investigator|trailblazer|early.{0,5}career"),
          "fellowship")
        .when(gt.rlike("independent investigator|distinguished " +
          "investigator|research"), "research")
        .when(gt.rlike("lieber|pardes|goldman|ruane|colvin|maltz|" +
          "klerman|freedman|prize|award"), "prize")
        .otherwise("research"),
      funderScheme = col("grant_type"),
      startYear = col("grant_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("name").isNotNull))
  }

  /** Nuffield Foundation grants (CreateNuffieldAwards.ipynb): the
    * theme scheme, source-carried GBP currency, full dates with
    * substring years, a full-name-gated lead whose affiliation
    * STRUCT ITSELF is NULL (the grants list publishes none). */
  def nuffield: FunderIngestConfig = {
    val lead = when(col("lead_full_name").isNotNull &&
        col("lead_full_name") =!= "",
      struct(col("lead_given_name").as("given_name"),
        col("lead_family_name").as("family_name"),
        lit(null).cast("string").as("orcid"),
        lit(null).cast("date").as("role_start"),
        lit(null).cast(affType).as("affiliation")))
    FunderIngestConfig(4320319997L, AwardFieldMap(
      provenance = "nuffield_wp_rest",
      priority = 80,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("research"),
      funderScheme = col("theme"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = substring(col("start_date"), 1, 4).try_cast("int"),
      endYear = substring(col("end_date"), 1, 4).try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("title").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-12 sixteenth tranche: Concytec/PROCIENCIA, FINEP FUNTTEL
  // ---------------------------------------------------------------

  /** CONCYTEC/PROCIENCIA (Peru) Observatorio de Subvenciones
    * (CreateConcytecProcienciaAwards.ipynb): the labelled slug mint
    * (slug NOT lowered), amount-gated PEN, the
    * call→intervention→agreement scheme cascade, year-else-date
    * coverage, and the 'Family, Given' leader split (comma → the
    * second element is the given name; no comma → the full trimmed
    * name stays in family). */
  def concytecProciencia: FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val sd = d(col("start_date"))
    val ed = d(col("end_date"))
    val syInt = coalesce(col("start_year").try_cast("int"), year(sd))
    val eyInt = coalesce(col("end_year").try_cast("int"), year(ed))
    val nm = col("lead_investigator_name")
    val hasComma = nm.isNotNull && instr(nm, ",") > 0
    val leaderGiven = when(hasComma,
      nullif(trim(element_at(split(nm, ","), 2)), lit("")))
    val leaderFamily = when(hasComma,
      nullif(trim(element_at(split(nm, ","), 1)), lit("")))
      .otherwise(nullif(trim(nm), lit("")))
    val lead = investigator(leaderGiven, leaderFamily,
      col("leader_affiliation_name"), col("leader_affiliation_country"))
    FunderIngestConfig(4320326614L, AwardFieldMap(
      provenance = "prociencia_observatorio",
      priority = 89,
      mintKey = concat(lit("concytec_prociencia:"), col("slug")),
      funderAwardId = col("slug"),
      displayName = col("display_name"),
      description = nullif(col("award_description"), lit("")),
      amount = amt,
      currency = when(amt.isNotNull, "PEN"),
      fundingType = lit("research"),
      funderScheme = coalesce(nullif(col("call"), lit("")),
        nullif(col("intervention_type"), lit("")),
        nullif(col("agreement"), lit(""))),
      startDate = sd, endDate = ed,
      startYear = syInt, endYear = eyInt,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("slug").isNotNull &&
        col("display_name").isNotNull && syInt.isNotNull))
  }

  /** FINEP FUNTTEL contracted projects
    * (CreateFINEPFUNTTELAwards.ipynb): the lowered-trimmed native id
    * reused as the mint key, amount-gated BRL, the
    * type-else-'research' and demand→product→'FUNTTEL' cascades,
    * signed-date-else-source-year coverage, an UNCONDITIONAL
    * org-level 'BR' recipient lead carrying a 'source'-asserted
    * CNPJ affiliation id. */
  def finepFunttel: FunderIngestConfig = {
    val nativeId = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val sd = d(col("signed_date"))
    val ed = d(col("end_date"))
    val py = col("source_year").try_cast("int")
    val cnpjIds = when(col("recipient_cnpj").isNotNull &&
        trim(col("recipient_cnpj")) =!= "",
      array(struct(trim(col("recipient_cnpj")).as("id"),
        lit("cnpj").as("type"), lit("source").as("asserted_by"))))
      .otherwise(lit(null).cast(affIds))
    val lead = investigator(lit(null).cast("string"), lit(null).cast("string"),
      nullif(trim(col("recipient_name")), lit("")), lit("BR"), roleStart = sd,
      ids = cnpjIds)
    FunderIngestConfig(4320322904L, AwardFieldMap(
      provenance = "finep_funttel",
      priority = 154,
      mintKey = nativeId,
      funderAwardId = nativeId,
      displayName = trim(col("display_name")),
      description = nullif(trim(col("description")), lit("")),
      amount = amt,
      currency = when(amt.isNotNull, "BRL"),
      fundingType = coalesce(nullif(trim(col("funding_type")), lit("")),
        lit("research")),
      funderScheme = coalesce(nullif(trim(col("demand")), lit("")),
        nullif(trim(col("product")), lit("")), lit("FUNTTEL")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), py),
      endYear = coalesce(year(ed), py),
      leadInvestigator = lead,
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull && trim(col("display_name")) =!= ""))
  }

  // ---------------------------------------------------------------
  // Round-12 seventeenth tranche: Holberg, Blue Planet, Templeton
  // Prize, Princess Asturias
  // ---------------------------------------------------------------

  /** Holberg Prize + Nils Klim Prize (CreateHolbergAwards.ipynb,
    * awarded by Universitetet i Bergen): the '<prize> <year> —
    * <name>' display, the declined-prefix description, the
    * canonical JUNE-1 ceremony date on BOTH ends, a laureate lead
    * whose country is the source nationality. */
  def holberg: FunderIngestConfig = {
    val yr = col("year").try_cast("int")
    val declined = col("declined").try_cast("boolean")
    val lead = investigator(col("laureate_given_name"),
      col("laureate_family_name"), lit(null).cast("string"), col("nationality"))
    FunderIngestConfig(4320323078L, AwardFieldMap(
      provenance = "holberg_wp_rest",
      priority = 78,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(col("prize_name"), lit(" "),
        yr.cast("string"), lit(" — "), col("laureate_full_name")),
      description = when(declined === true &&
          col("description").isNotNull,
          concat(lit("Declined the prize. "), col("description")))
        .when(declined === true, lit("Declined the prize."))
        .otherwise(col("description")),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("prize"),
      funderScheme = col("prize_name"),
      startDate = when(yr.isNotNull,
        d(concat(yr.cast("string"), lit("-06-01")))),
      endDate = when(yr.isNotNull,
        d(concat(yr.cast("string"), lit("-06-01")))),
      startYear = yr, endYear = yr,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull && yr.isNotNull &&
        col("prize_slug").isNotNull))
  }

  /** Blue Planet Prize (CreateBluePlanetPrizeAwards.ipynb, Asahi
    * Glass Foundation): the recipient_kind branch — individuals get
    * the split name with their affiliation, the six organizational
    * recipients get NULL person fields with the org's own name in
    * the affiliation slot — full dates with substring years. */
  def bluePlanetPrize: FunderIngestConfig = {
    val sd = d(col("start_date"))
    val lead = when(col("recipient_kind") === "individual" &&
        col("name_clean").isNotNull,
      investigator(col("given_name"), col("family_name"),
        col("affiliation_name"), lit(null).cast("string"), roleStart = sd))
      .when(col("recipient_kind") === "organization" &&
        col("name_clean").isNotNull,
        investigator(lit(null).cast("string"), lit(null).cast("string"),
          col("name_clean"), lit(null).cast("string"), roleStart = sd))
    FunderIngestConfig(4320309996L, AwardFieldMap(
      provenance = "blue_planet_prize",
      priority = 91,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("prize"),
      funderScheme = lit("Blue Planet Prize"),
      startDate = sd, endDate = d(col("end_date")),
      startYear = substring(col("start_date"), 1, 4).try_cast("int"),
      endYear = substring(col("end_date"), 1, 4).try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("name_clean").isNotNull))
  }

  /** Templeton Prize laureates (CreateTempletonPrizeAwards.ipynb —
    * distinct from the grants DB at `templeton_wp`): 'prize' with
    * the literal scheme, full dates with substring years, a
    * name-gated names-only lead with role_start = start. */
  def templetonPrize: FunderIngestConfig = {
    val sd = d(col("start_date"))
    val lead = when(col("name").isNotNull && col("name") =!= "",
      investigator(col("given_name"), col("family_name"),
        lit(null).cast("string"), lit(null).cast("string"), roleStart = sd))
    FunderIngestConfig(4320306193L, AwardFieldMap(
      provenance = "templeton_prize",
      priority = 93,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("prize"),
      funderScheme = lit("Templeton Prize"),
      startDate = sd, endDate = d(col("end_date")),
      startYear = substring(col("start_date"), 1, 4).try_cast("int"),
      endYear = substring(col("end_date"), 1, 4).try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("name").isNotNull))
  }

  /** Princess of Asturias Awards (CreatePrincessAsturiasAwards
    * .ipynb): the '<year> <prize title> - <name>' display over
    * NULLIF-trimmed norms, the prize-pattern amount waiver with the
    * source currency KEPT (the reference's own quirk), year-boundary
    * dates, a names-only laureate lead. */
  def princessAsturias: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val lead = investigator(nzt(col("given_name")), nzt(col("family_name")),
      lit(null).cast("string"), lit(null).cast("string"))
    FunderIngestConfig(4320323780L, AwardFieldMap(
      provenance = "princess_asturias",
      priority = 77,
      mintKey = concat(lit("princess-asturias:"),
        lower(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(yr.cast("string"), lit(" "),
        nzt(col("prize_title")), lit(" - "), nzt(col("laureate_name"))),
      description = nzt(col("citation")),
      currency = nzt(col("currency")),
      fundingType = lit("prize"),
      funderScheme = nzt(col("prize_title")),
      startDate = when(yr.isNotNull,
        d(concat(yr.cast("string"), lit("-01-01")))),
      endDate = when(yr.isNotNull,
        d(concat(yr.cast("string"), lit("-12-31")))),
      startYear = yr, endYear = yr,
      leadInvestigator = lead,
      landingPageUrl = nzt(col("landing_page_url")),
      rowFilter = col("funder_award_id").isNotNull && yr.isNotNull &&
        nullif(trim(col("prize_title")), lit("")).isNotNull &&
        nullif(trim(col("laureate_name")), lit("")).isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-12 eighteenth tranche: AcMedSci, Ahmanson
  // ---------------------------------------------------------------

  /** Academy of Medical Sciences (CreateAcMedSciAwards.ipynb): §6.7
    * waiver, the Fellowship-substring type split over the raw
    * scheme, ALL dates and years NULL, a PI-gated lead with no
    * country, NULL works_api_url; no row filter. */
  def acMedSci: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit(null).cast("string")))
    FunderIngestConfig(4320320241L, AwardFieldMap(
      provenance = "acmedsci", priority = 323,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = when(col("funder_scheme").like("%Fellowship%"),
        "fellowship").otherwise("grant"),
      funderScheme = col("funder_scheme"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Ahmanson Foundation grants archive
    * (CreateAhmansonAwards.ipynb): the lowered-trimmed native id
    * reuse, amount-gated USD, fiscal-year-only coverage with the
    * 1900..now+1 validity band on the derived Jan-1 date, an
    * UNCONDITIONAL org-level grantee lead with the source-carried
    * recipient country. */
  def ahmanson(currentYear: Int): FunderIngestConfig = {
    val nativeId = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val fy = col("fiscal_year").try_cast("int")
    val sd = when(fy.between(1900, currentYear + 1),
      d(concat(col("fiscal_year"), lit("-01-01"))))
    val lead = investigator(lit(null).cast("string"), lit(null).cast("string"),
      nullif(trim(col("grantee_name")), lit("")),
      nullif(trim(col("recipient_country")), lit("")), roleStart = sd)
    FunderIngestConfig(4320314405L, AwardFieldMap(
      provenance = "ahmanson_grants_archive",
      priority = 166,
      mintKey = nativeId,
      funderAwardId = nativeId,
      displayName = trim(col("display_name")),
      description = nullif(trim(col("description")), lit("")),
      amount = amt,
      currency = when(amt.isNotNull, "USD"),
      fundingType = lit("grant"),
      funderScheme = nullif(trim(col("program_area")), lit("")),
      startDate = sd,
      startYear = fy,
      leadInvestigator = lead,
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull && trim(col("display_name")) =!= ""))
  }

  // ---------------------------------------------------------------
  // Round-12 nineteenth tranche: WT Grant, Damon Runyon
  // ---------------------------------------------------------------

  /** William T. Grant Foundation (CreateWTGrantAwards.ipynb): the
    * '<program> - <grantee|name|title> (<year>)' display whose
    * recipient slot falls org→joined-person-name→title, >0 gates on
    * amount AND currency, a grantee-OR-given-gated lead with a
    * never-guessed NULL country. */
  def wtGrant: FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val lead = when(col("grantee_org").isNotNull ||
        col("given_name").isNotNull,
      investigator(col("given_name"), col("family_name"), col("grantee_org"),
        lit(null).cast("string")))
    FunderIngestConfig(4320306360L, AwardFieldMap(
      provenance = "wt_grant_foundation",
      priority = 151,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(coalesce(col("program"), lit("Grant")),
        lit(" - "),
        coalesce(col("grantee_org"),
          nullif(concat_ws(" ", col("given_name"), col("family_name")),
            lit("")), col("title")),
        when(col("start_year").isNotNull,
          concat(lit(" ("), col("start_year"), lit(")")))
          .otherwise(lit(""))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("program"),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull))
  }

  /** Damon Runyon Cancer Research Foundation
    * (CreateDamonRunyonAwards.ipynb): the '<award type> — <name>'
    * display with an 'Award' fallback, the ASSEMBLED '<type> working
    * on <cancer> (<area>). Mentor: <mentor>.' description cascade,
    * the fellow/investigator/clinical type regex with an 'other'
    * floor, §6.7 waiver, no temporal coverage, a scientist-gated
    * 'US' lead. */
  def damonRunyon: FunderIngestConfig = {
    val at = lower(col("award_type"))
    val mentorSuffix = when(col("sponsor_mentor").isNotNull,
      concat(lit(" Mentor: "), col("sponsor_mentor"), lit(".")))
      .otherwise(lit(""))
    val lead = when(col("scientist_full_name").isNotNull &&
        col("scientist_full_name") =!= "",
      investigator(col("given_name"), col("family_name"), col("institution"),
        lit("US")))
    FunderIngestConfig(4320306271L, AwardFieldMap(
      provenance = "damon_runyon_drupal",
      priority = 73,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Damon Runyon "),
        coalesce(col("award_type"), lit("Award")), lit(" — "),
        col("scientist_full_name")),
      description = when(col("cancer_type").isNotNull &&
          col("research_area").isNotNull,
          concat(col("award_type"), lit(" working on "),
            col("cancer_type"), lit(" ("), col("research_area"),
            lit(")."), mentorSuffix))
        .when(col("cancer_type").isNotNull,
          concat(col("award_type"), lit(" working on "),
            col("cancer_type"), lit("."), mentorSuffix))
        .when(col("award_type").isNotNull, col("award_type")),
      fundingType = when(at.rlike("fellow"), "fellowship")
        .when(at.rlike("investigator|research|innovation|scholar"),
          "research")
        .when(at.rlike("clinical"), "research")
        .otherwise("other"),
      funderScheme = col("award_type"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("scientist_full_name").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-13 first tranche (volume order): RGC HK, ISF, Villum,
  // OSTI facility, VEGA, MEYS
  // ---------------------------------------------------------------

  /** The RGC co-investigator JSON element (CreateRGCHKAwards.ipynb
    * cell 16's FROM_JSON schema). */
  private def rgcPerson: String =
    "array<struct<raw_name:string,given_name:string,family_name:string>>"

  /** RGC / Hong Kong Research Grants Council project enquiry
    * (CreateRGCHKAwards.ipynb cell 16, ~21.3K projects): the LOWERED
    * trimmed native id is BOTH the mint and the landed award id, >0
    * HKD gate, hint-else-'research' type, completion-date end with
    * year-only coverage under the future-start cap (NULL start keeps
    * end_year — the SQL CASE ELSE arm), an UNCONDITIONAL trimmed
    * lead with no country, and the co-investigators JSON split
    * FIRST→co-lead / REST→investigators. */
  def rgcHk(currentYear: Int): FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val sy = col("start_year").try_cast("int")
    val ey = col("end_year").try_cast("int")
    val future = sy > currentYear + 1
    val co = from_json(col("co_investigators_struct_json"),
      org.apache.spark.sql.types.DataType.fromDDL(rgcPerson))
    def coPerson(x: Column): Column =
      investigator(nullif(trim(x.getField("given_name")), lit("")),
        nullif(trim(x.getField("family_name")), lit("")),
        lit(null).cast("string"), lit(null).cast("string"))
    FunderIngestConfig(4320321592L, AwardFieldMap(
      provenance = "rgc_hk_project_enquiry",
      priority = 198,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("title")),
      description = nullif(trim(col("description")), lit("")),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, "HKD"),
      fundingType = coalesce(nullif(trim(col("funding_type_hint")),
        lit("")), lit("research")),
      funderScheme = nullif(trim(col("funding_scheme")), lit("")),
      endDate = d(col("completion_date")),
      startYear = when(future, lit(null)).otherwise(sy),
      endYear = when(future, lit(null)).otherwise(ey),
      leadInvestigator = investigator(
        nullif(trim(col("pi_given_name")), lit("")),
        nullif(trim(col("pi_family_name")), lit("")),
        nullif(trim(col("institution")), lit("")), lit(null).cast("string")),
      coLeadInvestigator = when(co.isNotNull && size(co) > 0,
        coPerson(element_at(co, 1))),
      investigators = when(co.isNotNull && size(co) > 1,
        transform(slice(co, lit(2), size(co) - 1), x => coPerson(x)))
        .otherwise(FunderIngest.nullInvestigators),
      landingPageUrl = nullif(trim(col("source_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("title").isNotNull && trim(col("title")) =!= ""))
  }

  /** ISF / Israel Science Foundation grant search
    * (CreateISFAwards.ipynb cell 15, ~16.2K): lowered-trimmed native
    * id, UNGATED amount with presence-gated 'ILS', type-else-'grant',
    * the grant-type→allocation-type→'ISF grant' scheme cascade,
    * date-else-source-year start and date-else-(start+duration−1)
    * end years, an UNCONDITIONAL trimmed 'IL' lead with
    * role_start = start. */
  def isf: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val sy = col("source_year").try_cast("int")
    val dur = col("years").try_cast("int")
    FunderIngestConfig(4320322252L, AwardFieldMap(
      provenance = "isf_grant_search",
      priority = 146,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = amt,
      currency = when(amt.isNotNull, "ILS"),
      fundingType = coalesce(nullif(trim(col("funding_type")), lit("")),
        lit("grant")),
      funderScheme = coalesce(nullif(trim(col("grant_type_name")),
        lit("")), nullif(trim(col("source_allocation_type_name")),
        lit("")), lit("ISF grant")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), sy),
      endYear = coalesce(year(ed), sy + dur - 1),
      leadInvestigator = investigator(
        nullif(trim(col("lead_investigator_given_name")), lit("")),
        nullif(trim(col("lead_investigator_family_name")), lit("")),
        nullif(trim(col("institution")), lit("")), lit("IL"), roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** Villum Fonden / Velux Fonden grants roster
    * (CreateVillumAwards.ipynb cell 10, ~15.5K): >0 DKK gate, the
    * scheme-RLIKE fellowship arm over the area-RLIKE research arm,
    * year-only coverage with the Jan-1 start built from the RAW year
    * string, a family-or-institution-gated source-country lead, and
    * the projects-granted page as the landing fallback. */
  def villum: FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val yr = col("year").try_cast("int")
    val lead = when(col("pi_family_name").isNotNull ||
        col("institution_name").isNotNull,
      investigator(col("pi_given_name"), col("pi_family_name"),
        col("institution_name"), col("institution_country")))
    FunderIngestConfig(4320310490L, AwardFieldMap(
      provenance = "villum_veluxfonden",
      priority = 191,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, "DKK"),
      fundingType = when(lower(col("funder_scheme")).rlike(
          "(visiting professor|young invest|kavli|postdoc|fellowship|" +
            "talent|phd|ph\\.d|stipend)"), "fellowship")
        .when(lower(col("funder_area")).rlike(
          "(technical|scientific|research)"), "research")
        .otherwise("grant"),
      funderScheme = col("funder_scheme"),
      startDate = when(yr.isNotNull,
        d(concat(col("year"), lit("-01-01")))),
      startYear = yr,
      leadInvestigator = lead,
      landingPageUrl = coalesce(col("landing_url"),
        lit("https://veluxfonden.dk/en/basic-page/projects-granted")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id").cast("string")) =!= ""))
  }

  /** DOE national user facilities via OSTI
    * (CreateOSTIFacilityAwards.ipynb cell 8, ~14.3K): the
    * [[grantCard]] archetype FACILITY-SALTED — 703 award numbers
    * recur at >1 facility, so the mint appends the lowered scheme —
    * with year-only 'yyyy' raws, the Crossref grant DOI passed
    * through, 'United States'. */
  def ostiFacility: FunderIngestConfig =
    grantCard(4320306084L, "osti_facility", 455,
      "DOE facility grant ", "United States", fullDates = false,
      endYearFromRaw = true, dateFmt = "yyyy",
      mintSalt = Some(lower(coalesce(col("scheme"), lit("")))),
      doiFromRaw = true)

  /** VEGA / Slovak joint MŠVVaŠ-SAV grant agency
    * (CreateVEGAAwards.ipynb cell 6, ~11.9K projects): the
    * [[grantCard]] archetype with Slovak 'dd.MM.yyyy' raws, full
    * dates, 'Slovakia'. */
  def vegaSk: FunderIngestConfig =
    grantCard(4320323641L, "vega_sk", 379, "VEGA grant ", "Slovakia",
      fullDates = true, endYearFromRaw = true, dateFmt = "dd.MM.yyyy")

  /** MEYS / Czech Ministry of Education, Youth and Sports via IS
    * VaVaI (CreateMEYSAwards.ipynb cell 17, ~11.4K MSM projects):
    * NOT the CEP card — the participant-else-project org/country
    * coalesce feeds an ORG-ONLY lead whose ror ids arm falls back to
    * an EMPTY array (not NULL), un-trimmed EN→original title and
    * objectives→keywords description cascades with a labeled-id
    * fallback, >0-gated CZK state support, and the future-start cap
    * NULLing start while a NULL start keeps end_year. */
  def meys(currentYear: Int): FunderIngestConfig = {
    val amt = col("state_support_czk").try_cast("double")
    val sy = col("start_year").try_cast("int")
    val ey = col("end_year").try_cast("int")
    val future = sy > currentYear + 1
    val orgName = coalesce(col("lead_org_name_participant"),
      col("lead_org_name_project"))
    val orgCountry = coalesce(col("lead_country_participant"),
      col("lead_country_project"))
    val rorIds = when(col("lead_ror").isNotNull,
      array(struct(col("lead_ror").as("id"), lit("ror").as("type"),
        lit("source").as("asserted_by"))))
      .otherwise(array().cast(affIds))
    val lead = when(orgName.isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"), orgName,
        orgCountry, ids = rorIds))
    FunderIngestConfig(4320321005L, AwardFieldMap(
      provenance = "isvavai_msm", priority = 226,
      mintKey = lower(trim(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(col("title_en"), col("title_original"),
        concat(lit("MEYS project "), col("funder_award_id"))),
      description = coalesce(col("objectives_en"),
        col("objectives_original"), col("keywords_en")),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, "CZK"),
      fundingType = lit("grant"),
      funderScheme = col("program_code"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = when(future, lit(null)).otherwise(sy),
      endYear = when(future, lit(null)).otherwise(ey),
      leadInvestigator = lead,
      landingPageUrl = col("source_url"),
      rowFilter = col("funder_award_id").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-13 second tranche: DHSC, TrygFonden, NAFOSTED, FRQSC,
  // HFSP, Wolfson
  // ---------------------------------------------------------------

  /** DHSC / UK Department of Health and Social Care via NIHR Open
    * Data (CreateDHSCAwards.ipynb cell 9, ~10.8K): UNGATED GBP
    * (PRU rows publish no amounts — §6.7 waiver), plain-English-else-
    * scientific abstract, the training-award-title arm over the
    * fellowship-programme arm, programme-else-stream scheme, a
    * chief-investigator lead whose bare '0000-…' ORCID gets the
    * https prefix, org-only fallback, 'GB'. */
  def dhsc: FunderIngestConfig = {
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val orcid = when(col("orcid").isNotNull &&
        col("orcid").rlike("^[0-9]{4}-"),
      concat(lit("https://orcid.org/"), col("orcid")))
      .otherwise(col("orcid"))
    val lead = when(col("lead_family_name").isNotNull,
      investigator(col("lead_given_name"), col("lead_family_name"),
        col("contracted_organisation"), lit("GB"), orcid = orcid))
      .when(col("contracted_organisation").isNotNull,
        investigator(lit(null).cast("string"), lit(null).cast("string"),
          col("contracted_organisation"), lit("GB")))
    FunderIngestConfig(4320319994L, AwardFieldMap(
      provenance = "nihr_ods_dhsc",
      priority = 425,
      mintKey = lower(col("project_id")),
      funderAwardId = col("project_id"),
      displayName = col("project_title"),
      description = coalesce(col("plain_english_abstract"),
        col("scientific_abstract")),
      amount = col("award_amount_from_dh").try_cast("double"),
      currency = lit("GBP"),
      fundingType = when(lower(coalesce(col("project_title"), lit("")))
          .like("%training award%"), "training")
        .when(lower(coalesce(col("programme"), lit("")))
          .like("%fellowship%"), "fellowship")
        .otherwise("research"),
      funderScheme = coalesce(col("programme"), col("funding_stream")),
      startDate = sd, endDate = ed,
      startYear = year(sd), endYear = year(ed),
      leadInvestigator = lead,
      landingPageUrl = col("funding_and_awards_link"),
      rowFilter = col("project_id").isNotNull &&
        trim(col("project_id")) =!= ""))
  }

  /** The six Danish regions whose council labels assert 'DK'
    * (CreateTrygFondenAwards.ipynb cell 15's IN list). */
  private val trygCouncils = Seq("Syddanmark", "Hovedstaden",
    "Landsdækkende", "Midtjylland", "Sjælland", "Nordjylland")

  /** TrygFonden donations API (CreateTrygFondenAwards.ipynb cell 15,
    * ~8.8K): lowered-trimmed native id, UNGATED amount with
    * presence-gated 'DKK', the target—focus—type ' - ' scheme
    * join (blank parts skipped), 'forskningsprojekt'-else-'grant'
    * type, date-else-published-year coverage on BOTH years, and an
    * ORG-ONLY unconditional lead (recipient name, 'DK' only when the
    * council label is one of the six regions, role_start = start). */
  def trygFonden: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val py = col("published_year").try_cast("int")
    FunderIngestConfig(4320324424L, AwardFieldMap(
      provenance = "trygfonden_donations_api",
      priority = 122,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = amt,
      currency = when(amt.isNotNull, "DKK"),
      fundingType = when(lower(trim(col("type")))
        === "forskningsprojekt", "research").otherwise("grant"),
      funderScheme = nullif(concat_ws(" - ",
        nullif(trim(col("target_area")), lit("")),
        nullif(trim(col("focus_area")), lit("")),
        nullif(trim(col("type")), lit(""))), lit("")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), py),
      endYear = coalesce(year(ed), py),
      leadInvestigator = investigator(lit(null).cast("string"),
        lit(null).cast("string"), nullif(trim(col("recipient_name")), lit("")),
        when(col("council").isin(trygCouncils: _*), "DK"), roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** NAFOSTED / Vietnam National Foundation for Science and
    * Technology Development (CreateNAFOSTEDAwards.ipynb cell 6,
    * ~7.1K): the [[grantCard]] archetype with Vietnamese
    * 'dd/MM/yyyy' raws, full dates, 'Vietnam'. */
  def nafosted: FunderIngestConfig =
    grantCard(4320309617L, "nafosted", 220, "NAFOSTED grant ",
      "Vietnam", fullDates = true, endYearFromRaw = true,
      dateFmt = "dd/MM/yyyy")

  /** FRQSC / Fonds de recherche du Québec – Société et culture
    * (CreateFRQSCAwards.ipynb cell 6, ~6.5K Dossiers): the
    * [[grantCard]] archetype with NULL dates and start-year-only
    * coverage, 'Canada' — the FRQNT/FRQS sibling. */
  def frqsc: FunderIngestConfig =
    grantCard(4320332645L, "frqsc", 393, "FRQSC grant ", "Canada",
      fullDates = false, endYearFromRaw = false)

  /** The HFSP awardee JSON element (CreateHFSPAwards.ipynb cell 16's
    * FROM_JSON schema). */
  private def hfspPerson: String =
    "array<struct<person_name:string,given_name:string," +
      "family_name:string,nationality:string,role:string," +
      "institution:string,city:string,country:string>>"

  /** HFSP / Human Frontier Science Program awards listing
    * (CreateHFSPAwards.ipynb cell 16, ~5K): NULL amounts (the
    * listing publishes none), type-else-'grant' and
    * program-else-'Unlabeled HFSP row' cascades,
    * date-else-source-year coverage, person-name-gated lead AND
    * co-lead cards with role_start = start and trimmed source
    * countries, and the FULL awardees JSON array as investigators
    * (each with role_start = start). */
  def hfsp: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val py = col("source_year").try_cast("int")
    val awardees = from_json(col("investigators_json"),
      org.apache.spark.sql.types.DataType.fromDDL(hfspPerson))
    def card(name: Column, giv: Column, fam: Column, inst: Column,
        ctry: Column): Column =
      when(name.isNull || trim(name) === "",
        lit(null).cast(FunderIngest.InvestigatorType))
        .otherwise(investigator(nullif(trim(giv), lit("")),
          nullif(trim(fam), lit("")), nullif(trim(inst), lit("")),
          nullif(trim(ctry), lit("")), roleStart = sd))
    FunderIngestConfig(4320320338L, AwardFieldMap(
      provenance = "hfsp_awards_listing",
      priority = 124,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      fundingType = coalesce(nullif(trim(col("funding_type")), lit("")),
        lit("grant")),
      funderScheme = coalesce(nullif(trim(col("program")), lit("")),
        lit("Unlabeled HFSP row")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), py),
      endYear = coalesce(year(ed), py),
      leadInvestigator = card(col("lead_person_name"),
        col("lead_given_name"), col("lead_family_name"),
        col("lead_institution"), col("lead_country")),
      coLeadInvestigator = card(col("co_person_name"),
        col("co_given_name"), col("co_family_name"),
        col("co_institution"), col("co_country")),
      investigators = when(awardees.isNull || size(awardees) === 0,
        FunderIngest.nullInvestigators)
        .otherwise(transform(awardees, x =>
          investigator(nullif(trim(x.getField("given_name")), lit("")),
            nullif(trim(x.getField("family_name")), lit("")),
            nullif(trim(x.getField("institution")), lit("")),
            nullif(trim(x.getField("country")), lit("")), roleStart = sd))),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** Wolfson Foundation via 360Giving (CreateWolfsonAwards.ipynb
    * cell 12, ~4.3K): >0 GBP gate, labeled-id display fallback,
    * award-date start with the RAW start_year column, an ORG-ONLY
    * lead with the source-authoritative ISO country (never guessed),
    * NULL landing page (360Giving has no per-grant page). */
  def wolfson: FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val lead = when(col("recipient_org").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("recipient_org"), col("recipient_country_iso")))
    FunderIngestConfig(4320320670L, AwardFieldMap(
      provenance = "wolfson_foundation",
      priority = 155,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(col("title"),
        concat(lit("Wolfson Foundation grant "), col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, "GBP"),
      fundingType = lit("grant"),
      funderScheme = col("grant_programme"),
      startDate = d(col("award_date")),
      startYear = col("start_year").try_cast("int"),
      leadInvestigator = lead,
      rowFilter = col("funder_award_id").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-13 third tranche: HRZZ, MJFF, CPRIT, Canada Council
  // prizes, NSF Sri Lanka, Schmidt Sciences
  // ---------------------------------------------------------------

  /** HRZZ / Croatian Science Foundation (CreateHRZZAwards.ipynb
    * cell 6, ~3.6K): the grant-card shape with a THREE-tier display
    * cascade (title → 'HRZZ <scheme> — <institution>', which
    * null-propagates when the institution is missing → labeled id)
    * and NO row screen (the notebook lands every raw row), >0
    * decimal gate, full dates, PI-only 'Croatia' lead (no org
    * fallback), NULL works_api_url. */
  def hrzz: FunderIngestConfig =
    threeTierCard(4320322674L, "hrzz", 355, "HRZZ ", " — ",
      "HRZZ project ", "Croatia")

  /** The HRZZ/Ontario-MCU grant-card twin shape: three-tier display
    * (title → '<prefix><scheme><sep><institution>', null-propagating
    * on missing institution → '<label><id>'), NO row screen, >0
    * decimal gate, full dates, PI-only lead (no org fallback), NULL
    * works_api_url. */
  private def threeTierCard(funderId: Long, provenance: String,
      priority: Int, tier2Prefix: String, tier2Sep: String,
      tier3Prefix: String, country: String): FunderIngestConfig = {
    val amt = col("amount").try_cast("decimal(18,2)")
    val sd = d(col("start_date_raw")); val ed = d(col("end_date_raw"))
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit(country)))
    FunderIngestConfig(funderId, AwardFieldMap(
      provenance = provenance, priority = priority,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("title")), lit("")),
        concat(lit(tier2Prefix), coalesce(col("scheme"), lit("")),
          lit(tier2Sep), col("institution")),
        concat(lit(tier3Prefix), col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startDate = sd, endDate = ed,
      startYear = year(sd), endYear = year(ed),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** MJFF / Michael J. Fox Foundation funded studies
    * (CreateMJFFAwards.ipynb cell 17, ~2.7K): NULL amounts,
    * program-else-'MJFF Funded Study' scheme, source-year bounds on
    * dates AND both years, and a family-gated lead whose affiliation
    * strips the '<position> at <org>' prefix when present
    * (role_start = Jan 1). */
  def mjff: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val py = col("source_year").try_cast("int")
    val sd = d(concat(col("source_year"), lit("-01-01")))
    val aff = nullif(trim(
      when(col("lead_position_affiliation").rlike(" at "),
        regexp_extract(col("lead_position_affiliation"),
          " at (.+)$", 1))
        .otherwise(col("lead_position_affiliation"))), lit(""))
    val fam = nullif(trim(col("lead_family_name")), lit(""))
    val lead = when(fam.isNotNull,
      investigator(nullif(trim(col("lead_given_name")), lit("")), fam, aff,
        lit(null).cast("string"), roleStart = sd))
    FunderIngestConfig(4320306136L, AwardFieldMap(
      provenance = "mjff_funded_studies",
      priority = 129,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = nullif(trim(col("description")), lit("")),
      fundingType = lit("research"),
      funderScheme = coalesce(nullif(trim(col("source_program")),
        lit("")), lit("MJFF Funded Study")),
      startDate = sd,
      endDate = d(concat(col("source_year"), lit("-12-31"))),
      startYear = py, endYear = py,
      leadInvestigator = lead,
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** CPRIT / Cancer Prevention and Research Institute of Texas
    * (CreateCPRITAwards.ipynb cell 6, ~2.3K): the [[grantCard]]
    * archetype with full dates, 'United States' — named PI over the
    * pending-recruitment org-only tier. */
  def cprit: FunderIngestConfig =
    grantCard(4320308129L, "cprit", 377, "CPRIT grant ",
      "United States", fullDates = true, endYearFromRaw = true)

  /** Canada Council for the Arts prizes
    * (CreateCanadaCouncilPrizesAwards.ipynb cell 13, ~2.2K): the
    * ':canada-council:' salted mint, the year—prize—laureate
    * display with the winning-work parenthetical, an assembled
    * labeled description (category/language/work/source-entry
    * sentences, blank parts skipped), CURRENCY-without-amount
    * defaulting 'CAD', prize—category—language scheme join,
    * year-boundary dates, and the organization-like flag routing the
    * full laureate name into given_name. */
  def canadaCouncilPrizes: FunderIngestConfig = {
    val yr = col("year").try_cast("int")
    val aid = nullif(trim(col("funder_award_id")), lit(""))
    val prize = nullif(trim(col("prize_name")), lit(""))
    val cat = nullif(trim(col("category")), lit(""))
    val lang = nullif(trim(col("language")), lit(""))
    val laureate = nullif(trim(col("laureate_name")), lit(""))
    val giv = nullif(trim(col("laureate_given_name")), lit(""))
    val fam = nullif(trim(col("laureate_family_name")), lit(""))
    val work = nullif(trim(col("work_title")), lit(""))
    val orgLike = lower(nullif(trim(col("is_organization_like")),
      lit(""))) === "true"
    FunderIngestConfig(4320319951L, AwardFieldMap(
      provenance = "canada_council_prizes",
      priority = 74,
      mintKey = concat(lit("canada-council:"), lower(aid)),
      funderAwardId = aid,
      displayName = concat(yr.cast("string"), lit(" "), prize,
        lit(" - "), laureate,
        when(work.isNotNull, concat(lit(" ("), work, lit(")")))
          .otherwise(lit(""))),
      description = nullif(concat_ws(" ",
        nullif(trim(col("source_description")), lit("")),
        when(cat.isNotNull, concat(lit("Category: "), cat, lit("."))),
        when(lang.isNotNull, concat(lit("Language: "), lang, lit("."))),
        when(work.isNotNull,
          concat(lit("Winning work: "), work, lit("."))),
        when(nullif(trim(col("raw_entry_text")), lit("")).isNotNull,
          concat(lit("Source entry: "),
            nullif(trim(col("raw_entry_text")), lit(""))))), lit("")),
      currency = coalesce(nullif(trim(col("currency")), lit("")),
        lit("CAD")),
      fundingType = lit("prize"),
      funderScheme = concat_ws(" - ", prize, cat, lang),
      startDate = d(concat(yr.cast("string"), lit("-01-01"))),
      endDate = d(concat(yr.cast("string"), lit("-12-31"))),
      startYear = yr, endYear = yr,
      leadInvestigator = investigator(
        when(orgLike, laureate).otherwise(coalesce(giv, laureate)),
        when(orgLike, lit(null).cast("string")).otherwise(fam),
        lit(null).cast("string"), lit(null).cast("string")),
      landingPageUrl = nullif(trim(col("prize_url")), lit("")),
      rowFilter = aid.isNotNull && yr.isNotNull &&
        prize.isNotNull && laureate.isNotNull))
  }

  /** The GMIS duplicate-row screen (CreateNSFSriLankaAwards.ipynb
    * cell 15's QUALIFY): one award per grant ref, lowest detail_id
    * wins — apply BEFORE [[nsfSriLanka]]. */
  def nsfSriLankaDedup(raw: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lower(trim(col("grant_number"))))
      .orderBy(col("detail_id"))
    raw.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** NSF Sri Lanka via GMIS (CreateNSFSriLankaAwards.ipynb cell 15,
    * ~2.2K): the citable source-case grant ref (lowered only in the
    * mint), abstract—findings ' | ' description join with the
    * 'Keywords: ' fallback, UNGATED amount with presence-gated
    * SOURCE currency, subject scheme, date-else-source-year
    * coverage, an UNCONDITIONAL name-only 'LK' lead (no affiliation
    * name) with role_start = start. */
  def nsfSriLanka: FunderIngestConfig = {
    val nid = trim(col("grant_number"))
    val amt = col("amount").try_cast("double")
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val py = col("source_year").try_cast("int")
    val srcDesc = nullif(trim(concat_ws(" | ",
      nullif(trim(col("abstract")), lit("")),
      nullif(trim(col("key_research_findings")), lit("")))), lit(""))
    FunderIngestConfig(4320335353L, AwardFieldMap(
      provenance = "nsf_sri_lanka_gmis",
      priority = 138,
      mintKey = lower(nid),
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(srcDesc.isNotNull, srcDesc)
        .when(nullif(trim(col("keywords")), lit("")).isNotNull,
          concat(lit("Keywords: "), trim(col("keywords")))),
      amount = amt,
      currency = when(amt.isNotNull, col("currency")),
      fundingType = lit("grant"),
      funderScheme = nullif(trim(col("subject")), lit("")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), py),
      endYear = coalesce(year(ed), py),
      leadInvestigator = investigator(
        nullif(trim(col("lead_investigator_given_name")), lit("")),
        nullif(trim(col("lead_investigator_family_name")), lit("")),
        lit(null).cast("string"), lit("LK"), roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("grant_number").isNotNull &&
        trim(col("grant_number")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** The Schmidt Futures funder row is non-F4320* and INLINED by the
    * notebook (CreateSchmidtSciencesAwards.ipynb cell 17's
    * schmidt_funder constants — the Abel/MinCiencias empty-dim
    * failure mode). */
  def schmidtFunderLookup(spark: SparkSession): DataFrame =
    FunderIngest.inlineFunders(spark, Seq(
      (4026159580L, "Schmidt Futures", None, "10.13039/100027426")))

  /** Schmidt Sciences awardees listing
    * (CreateSchmidtSciencesAwards.ipynb cell 17, ~2.05K): paired
    * with [[schmidtFunderLookup]] — 'fellowship' rows named by the
    * grantee with NULL amounts (§6.7 waiver), the null-propagating
    * 'Schmidt Sciences <program>' scheme defaulting to the bare
    * label, year-boundary dates from the RAW year strings, a
    * name-only lead with role_start = start. */
  def schmidtSciences: FunderIngestConfig = {
    val sd = d(concat(col("start_year"), lit("-01-01")))
    FunderIngestConfig(4026159580L, AwardFieldMap(
      provenance = "schmidt_sciences_awardees",
      priority = 108,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("grantee_name"),
      fundingType = lit("fellowship"),
      funderScheme = coalesce(concat(lit("Schmidt Sciences "),
        nullif(trim(col("program")), lit(""))),
        lit("Schmidt Sciences")),
      startDate = sd,
      endDate = d(concat(col("end_year"), lit("-12-31"))),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = investigator(nullif(trim(col("given_name")), lit("")),
        nullif(trim(col("family_name")), lit("")), lit(null).cast("string"),
        lit(null).cast("string"), roleStart = sd),
      landingPageUrl = col("grantee_url"),
      rowFilter = col("grantee_name").isNotNull &&
        trim(col("grantee_name")) =!= "" &&
        col("funder_award_id").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-13 fourth tranche: SEPM, Sir Jules Thorn, Keio prize,
  // HEC Pakistan, Ontario MCU, ITF Hong Kong
  // ---------------------------------------------------------------

  /** SEPM Science Awards (CreateSEPMAwards.ipynb cell 17, ~2K
    * medals/honors): 'prize' rows with NULL amounts, the award-name
    * scheme, a RANGE-GATED Jan-1 start date (award_year within
    * 1900..current+1) while start_year stays UNCAPPED, an
    * UNCONDITIONAL recipient lead with source affiliation country
    * and role_start = start. */
  def sepm(currentYear: Int): FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val py = col("award_year").try_cast("int")
    val sd = when(py.between(1900, currentYear + 1),
      d(concat(col("award_year"), lit("-01-01"))))
    FunderIngestConfig(4320312534L, AwardFieldMap(
      provenance = "sepm_science_awards",
      priority = 170,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      fundingType = lit("prize"),
      funderScheme = nullif(trim(col("award_name")), lit("")),
      startDate = sd,
      startYear = py,
      leadInvestigator = investigator(
        nullif(trim(col("recipient_given_name")), lit("")),
        nullif(trim(col("recipient_family_name")), lit("")),
        nullif(trim(col("affiliation_name")), lit("")),
        nullif(trim(col("affiliation_country")), lit("")), roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** Sir Jules Thorn Charitable Trust via 360Giving
    * (CreateSirJulesThornAwards.ipynb cell 13, ~2K): the Wolfson
    * sibling with the SOURCE currency behind the >0 gate, a NULL
    * scheme, the 360Giving recipient-org identifier landed as the
    * affiliation id ('360Giving Recipient Org:Identifier'), NULL
    * landing, and the future-start cap over both years. */
  def sirJulesThorn(currentYear: Int): FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val sy = col("start_year").try_cast("int")
    val future = sy > currentYear + 1
    val orgIds = when(col("recipient_org_identifier").isNotNull,
      array(struct(col("recipient_org_identifier").as("id"),
        lit("360Giving Recipient Org:Identifier").as("type"),
        lit("source").as("asserted_by"))))
      .otherwise(lit(null).cast(affIds))
    val lead = when(col("recipient_org").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("recipient_org"), lit(null).cast("string"), ids = orgIds))
    FunderIngestConfig(4320320000L, AwardFieldMap(
      provenance = "sir_jules_thorn_360giving",
      priority = 186,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(col("title"),
        concat(lit("Sir Jules Thorn Charitable Trust grant "),
          col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      startDate = d(col("award_date")),
      startYear = when(future, lit(null)).otherwise(sy),
      leadInvestigator = lead,
      rowFilter = col("funder_award_id").isNotNull))
  }

  /** Keio Medical Science Prize
    * (CreateKeioMedicalSciencePrizeAwards.ipynb cell 16, ~2K):
    * 'prize' with UNGATED amount and trimmed source currency, the
    * scheme-else-'Keio Medical Science Prize' fallback,
    * date-else-source-year coverage, an UNCONDITIONAL laureate lead
    * with the raw affiliation and NO country. */
  def keioMedicalSciencePrize: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val py = col("source_year").try_cast("int")
    FunderIngestConfig(4320320909L, AwardFieldMap(
      provenance = "keio_medical_science_prize",
      priority = 125,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = col("amount").try_cast("double"),
      currency = nullif(trim(col("currency")), lit("")),
      fundingType = lit("prize"),
      funderScheme = coalesce(nullif(trim(col("funder_scheme")),
        lit("")), lit("Keio Medical Science Prize")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), py),
      endYear = coalesce(year(ed), py),
      leadInvestigator = investigator(nullif(trim(col("given_name")), lit("")),
        nullif(trim(col("family_name")), lit("")),
        nullif(trim(col("affiliation_raw")), lit("")), lit(null).cast("string"),
        roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** HEC Pakistan NRPU (CreateHECPakistanAwards.ipynb cell 17,
    * ~1.9K): UNGATED amount with trimmed source currency, the
    * scheme-else-NRPU-label fallback, date-else-source-year
    * coverage, and a pi-NAME-gated lead whose given/family come from
    * the pre-split columns ('PK', role_start = start). */
  def hecPakistan: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val py = col("source_year").try_cast("int")
    val lead = when(col("pi_name").isNull ||
      trim(col("pi_name")) === "",
      lit(null).cast(FunderIngest.InvestigatorType))
      .otherwise(investigator(nullif(trim(col("pi_given_name")), lit("")),
        nullif(trim(col("pi_family_name")), lit("")),
        nullif(trim(col("university")), lit("")), lit("PK"), roleStart = sd))
    FunderIngestConfig(4320322799L, AwardFieldMap(
      provenance = "hec_pakistan_nrpu",
      priority = 140,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = col("amount").try_cast("double"),
      currency = nullif(trim(col("currency")), lit("")),
      fundingType = lit("grant"),
      funderScheme = coalesce(nullif(trim(col("funder_scheme")),
        lit("")),
        lit("National Research Program for Universities (NRPU)")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), py),
      endYear = coalesce(year(ed), py),
      leadInvestigator = lead,
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** Ontario MCU research funding (CreateOntarioMCUAwards.ipynb
    * cell 6, ~1.8K): the [[threeTierCard]] twin — 'Ontario
    * <scheme> - <institution>' tier 2, 'Ontario MCU project <id>'
    * tier 3, 'Canada'. */
  def ontarioMcu: FunderIngestConfig =
    threeTierCard(4320331473L, "ontario_mcu", 369, "Ontario ", " - ",
      "Ontario MCU project ", "Canada")

  /** ITF / Hong Kong Innovation and Technology Fund
    * (CreateITFHongKongAwards.ipynb cell 6, ~1.8K): >0 decimal gate
    * with source currency, labeled-id display fallback, NULL dates
    * with a start-year-only coverage from the date raw, an ORG-ONLY
    * 'Hong Kong' lead (the Lead Applicant is an organisation), NO
    * row screen, NULL works_api_url. */
  def itfHk: FunderIngestConfig = {
    val amt = col("amount").try_cast("decimal(18,2)")
    val lead = when(col("institution").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("institution"), lit("Hong Kong")))
    FunderIngestConfig(4320326427L, AwardFieldMap(
      provenance = "itf_hk", priority = 371,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("title")), lit("")),
        concat(lit("ITF project "), col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startYear = year(d(col("start_date_raw"))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  // ---------------------------------------------------------------
  // Round-13 fifth tranche: HRB Ireland, RPB, CIRM, Rockefeller,
  // Hertz, JSMF
  // ---------------------------------------------------------------

  /** HRB / Health Research Board Ireland
    * (CreateHRBIrelandAwards.ipynb cell 6, ~1.7K): the [[grantCard]]
    * archetype with NULL dates and start-year-only coverage,
    * 'Ireland', a PI-ONLY lead (no org fallback) and NO row
    * screen. */
  def hrbIreland: FunderIngestConfig =
    grantCard(4320312041L, "hrb_ireland", 373, "HRB grant ",
      "Ireland", fullDates = false, endYearFromRaw = false,
      orgFallback = false, requireId = false)

  /** RPB / Research to Prevent Blindness (CreateRPBAwards.ipynb
    * cell 6, ~1.7K): the [[grantCard]] archetype with NULL dates and
    * start-year-only coverage, 'United States', the departmental
    * org-grant fallback tier, NO row screen. */
  def rpb: FunderIngestConfig =
    grantCard(4320306811L, "rpb", 375, "RPB grant ", "United States",
      fullDates = false, endYearFromRaw = false, requireId = false)

  /** CIRM / California Institute for Regenerative Medicine
    * (CreateCIRMAwards.ipynb cell 7, ~1.6K): UNGATED decimal amount
    * with unconditional 'USD', raw title, NO description/dates/
    * years, programme scheme, PI-only 'United States' lead, NULL
    * landing AND works URLs, no row screen. */
  def cirm: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United States")))
    FunderIngestConfig(4320306171L, AwardFieldMap(
      provenance = "cirm", priority = 253,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("USD"),
      fundingType = lit("grant"),
      funderScheme = col("programme"),
      leadInvestigator = lead,
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Rockefeller Foundation WordPress grants roster
    * (CreateRockefellerAwards.ipynb cell 9, ~1.5K): the lowered SLUG
    * mint with the slug as the landed award id, un-trimmed NULLIF
    * description/focus-area, UNGATED USD-column amount with the raw
    * source currency, full dates, and an UNCONDITIONAL org-only lead
    * whose name falls back from grantee to the title (Rockefeller
    * funds organisations). */
  def rockefeller: FunderIngestConfig =
    FunderIngestConfig(4320306149L, AwardFieldMap(
      provenance = "rockefeller_wp", priority = 40,
      mintKey = lower(col("slug")),
      funderAwardId = col("slug"),
      displayName = col("title"),
      description = nullif(col("description_raw"), lit("")),
      amount = col("amount_usd").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("grant"),
      funderScheme = nullif(col("focus_area_raw"), lit("")),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = year(d(col("start_date"))),
      endYear = year(d(col("end_date"))),
      leadInvestigator = investigator(lit(null).cast("string"),
        lit(null).cast("string"),
        coalesce(nullif(col("grantee_raw"), lit("")), col("title")),
        lit(null).cast("string")),
      landingPageUrl = col("url"),
      rowFilter = col("slug").isNotNull && trim(col("slug")) =!= ""))

  /** Hertz Foundation fellows directory (CreateHertzAwards.ipynb
    * cell 12, ~1.5K): 'fellowship'/'Hertz Fellowship' constants,
    * UNGATED amount with the raw source currency, years from the
    * raw date SUBSTRINGs, a full-name-gated PERSON lead whose
    * affiliation is the fellow's CURRENT position with the 'US'
    * citizenship invariant, per-fellow profile landing page. */
  def hertz: FunderIngestConfig = {
    val sd = d(col("start_date"))
    val lead = when(col("full_name").isNull || col("full_name") === "",
      lit(null).cast(FunderIngest.InvestigatorType))
      .otherwise(investigator(col("given_name"), col("family_name"),
        col("current_position"), lit("US"), roleStart = sd))
    FunderIngestConfig(4320308782L, AwardFieldMap(
      provenance = "hertz_facetwp", priority = 90,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("fellowship"),
      funderScheme = lit("Hertz Fellowship"),
      startDate = sd, endDate = d(col("end_date")),
      startYear = substring(col("start_date"), 1, 4).try_cast("int"),
      endYear = substring(col("end_date"), 1, 4).try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("profile_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("full_name").isNotNull))
  }

  /** JSMF / James S. McDonnell Foundation (CreateJSMFAwards.ipynb
    * cell 7, ~1.2K): UNGATED decimal amount with unconditional
    * 'USD', NULL scheme, raw-date start with a 1980..2027
    * RANGE-GATED start_year, a recipient ORG-ONLY lead with no
    * country, NULL works_api_url, no row screen. */
  def jsmf: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("recipient").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("recipient"), lit(null).cast("string")))
    FunderIngestConfig(4320306183L, AwardFieldMap(
      provenance = "jsmf", priority = 245,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("USD"),
      fundingType = lit("grant"),
      startDate = d(col("start_date_raw")),
      startYear = when(sy.between(1980, 2027), sy),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  // ---------------------------------------------------------------
  // Round-13 sixth tranche: Research Manitoba, Marsden, KWF, CIFAR,
  // Brain Canada, SCAS fellows
  // ---------------------------------------------------------------

  /** Research Manitoba (CreateResearchManitobaAwards.ipynb cell 7,
    * ~1.2K): UNGATED decimal amount with unconditional 'CAD', a
    * 2000..2027 RANGE-GATED start date AND start_year, programme
    * scheme, PI-only 'Canada' lead, NULL landing and works URLs, no
    * row screen. */
  def researchManitoba: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val inRange = sy.between(2000, 2027)
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("Canada")))
    FunderIngestConfig(4320310810L, AwardFieldMap(
      provenance = "research_manitoba",
      priority = 251,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("CAD"),
      fundingType = lit("grant"),
      funderScheme = col("programme"),
      startDate = when(inRange,
        d(concat(col("start_year"), lit("-01-01")))),
      startYear = when(inRange, sy),
      leadInvestigator = lead,
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Marsden Fund / Royal Society Te Apārangi
    * (CreateMarsdenAwards.ipynb cell 6, ~1K): the grant card with a
    * scheme-labeled display fallback ('Marsden <scheme> grant <id>'),
    * >0 decimal gate, year_awarded-only coverage, PI-only 'New
    * Zealand' lead, NULL works_api_url, no row screen. */
  def marsden: FunderIngestConfig = {
    val amt = col("amount").try_cast("decimal(18,2)")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("New Zealand")))
    FunderIngestConfig(4320335369L, AwardFieldMap(
      provenance = "marsden", priority = 357,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("title")), lit("")),
        concat(lit("Marsden "), coalesce(col("scheme"), lit("")),
          lit(" grant "), col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startYear = col("year_awarded").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** KWF Kankerbestrijding / Dutch Cancer Society
    * (CreateKWFAwards.ipynb cell 6, ~1K): NO amounts (§6.7 — KWF
    * publishes none), research-modality scheme, raw-date start with
    * start-year-only coverage, PI-only 'Netherlands' lead, NULL
    * works_api_url, no row screen. */
  def kwf: FunderIngestConfig = {
    val sd = d(col("start_date_raw"))
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("Netherlands")))
    FunderIngestConfig(4320322777L, AwardFieldMap(
      provenance = "kwf", priority = 359,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("title")), lit("")),
        concat(lit("KWF project "), col("funder_award_id"))),
      description = col("description"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startDate = sd,
      startYear = year(sd),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** CIFAR appointments via the WordPress REST bios
    * (CreateCIFARAwards.ipynb cell 11, ~0.9K): 'CIFAR <program> —
    * <researcher>' display, the declined-flag/role description
    * cascade, the role-name regex RECOMPUTING funding_type (advisory
    * → 'other' BEFORE the fellow/chair arm), first-seen-date proxy
    * start with the substring year, an UNCONDITIONAL researcher lead
    * with source country. */
  def cifar: FunderIngestConfig = {
    val declined = col("declined").try_cast("boolean") === true
    val role = col("role_name")
    FunderIngestConfig(4320309949L, AwardFieldMap(
      provenance = "cifar_wp_rest", priority = 79,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("CIFAR "), col("program_name"),
        lit(" — "), col("researcher_full_name")),
      description = when(declined && role.isNotNull,
        concat(lit("Declined the appointment. Role: "), role))
        .when(declined, lit("Declined the appointment."))
        .when(role.isNotNull, concat(role, lit(" in CIFAR "),
          col("program_name"), lit(".")))
        .otherwise(concat(lit("Appointment in CIFAR "),
          col("program_name"), lit("."))),
      fundingType = when(lower(role).rlike("advisor|advisory|committee"),
        "other")
        .when(lower(role).rlike(
          "fellow|chair|scholar|investigator|co-?director|director"),
          "research")
        .otherwise("other"),
      funderScheme = col("program_name"),
      startDate = d(substring(col("first_seen_date"), 1, 10)),
      startYear = substring(col("first_seen_date"), 1, 4).cast("int"),
      leadInvestigator = investigator(col("researcher_given"),
        col("researcher_family"), col("institution_name"), col("country_name")),
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("program_name").isNotNull &&
        col("researcher_full_name").isNotNull))
  }

  /** Brain Canada (CreateBrainCanadaAwards.ipynb cell 6, ~0.8K): >0
    * decimal gate with source currency, labeled-id display fallback,
    * start-year-only coverage, a two-tier lead carrying the SOURCE
    * country column (never guessed), NULL works_api_url. */
  def brainCanada: FunderIngestConfig = {
    val amt = col("amount").try_cast("decimal(18,2)")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        col("country")))
      .when(col("institution").isNotNull,
        investigator(lit(null).cast("string"), lit(null).cast("string"),
          col("institution"), col("country")))
    FunderIngestConfig(4320311238L, AwardFieldMap(
      provenance = "brain_canada", priority = 387,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("title")), lit("")),
        concat(lit("Brain Canada grant "), col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startYear = year(d(col("start_date_raw"))),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull,
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** SCAS / Swedish Collegium for Advanced Study former fellows
    * (CreateSCASFellowsAwards.ipynb cell 17, ~0.8K): SOURCE
    * funding_type (trimmed-NULLIF, no fallback), UPPERCASED trimmed
    * currency over an ungated amount, scheme_label, years from the
    * RAW year columns (no date coalesce), a NAME-required row screen
    * and an unconditional fellow lead (no country, role_start =
    * start). */
  def scasFellows: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val sd = d(col("start_date"))
    FunderIngestConfig(4320319588L, AwardFieldMap(
      provenance = "scas_former_fellows",
      priority = 174,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = col("amount").try_cast("double"),
      currency = when(nullif(trim(col("currency")), lit("")).isNull,
        lit(null).cast("string"))
        .otherwise(upper(trim(col("currency")))),
      fundingType = nullif(trim(col("funding_type")), lit("")),
      funderScheme = nullif(trim(col("scheme_label")), lit("")),
      startDate = sd, endDate = d(col("end_date")),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = investigator(nullif(trim(col("given_name")), lit("")),
        nullif(trim(col("family_name")), lit("")),
        nullif(trim(col("affiliation")), lit("")), lit(null).cast("string"),
        roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= "" &&
        col("name").isNotNull && trim(col("name")) =!= ""))
  }

  // ---------------------------------------------------------------
  // Round-13 seventh tranche: Mercator fellows, HHMI, Royal Society
  // grants, IADB sci-tech, LPDP RISPRO, EKFS
  // ---------------------------------------------------------------

  private def affStruct: String =
    s"struct<name:string,country:string,ids:$affIds>"

  /** Stiftung Mercator fellow profiles
    * (CreateMercatorFellowsAwards.ipynb cell 15, ~1.9K): NULL
    * amounts, program-else-'Stiftung Mercator Fellowship' scheme,
    * period dates with the RAW year columns, an UNCONDITIONAL
    * fellow lead whose AFFILIATION is a NULL struct (the profile
    * carries none), fellow-name-required screen. */
  def mercatorFellows: FunderIngestConfig = {
    val sd = d(col("period_start"))
    val lead = struct(
      nullif(trim(col("given_name")), lit("")).as("given_name"),
      nullif(trim(col("family_name")), lit("")).as("family_name"),
      lit(null).cast("string").as("orcid"),
      sd.as("role_start"),
      lit(null).cast(affStruct).as("affiliation"))
    FunderIngestConfig(4320327917L, AwardFieldMap(
      provenance = "mercator_fellows",
      priority = 116,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("fellow_name"),
      description = col("description"),
      fundingType = lit("fellowship"),
      funderScheme = coalesce(nullif(trim(col("fellowship_program")),
        lit("")), lit("Stiftung Mercator Fellowship")),
      startDate = sd, endDate = d(col("period_end")),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("fellow_name").isNotNull &&
        trim(col("fellow_name")) =!= "" &&
        col("funder_award_id").isNotNull))
  }

  /** HHMI scientist pages (CreateHHMIAwards.ipynb cell 9, ~1.7K):
    * the slug minted from the profile URL, the degree-then-
    * generational suffix strip feeding the last-token family-name
    * split, the '<name> — HHMI <role> (<term>)' display with the
    * 'HHMI ' prefix strip, NULL amount with unconditional 'USD',
    * the fellow-role arm, year-boundary dates. */
  def hhmi: FunderIngestConfig = {
    val slug = regexp_extract(col("url"), "/scientists/([^/]+)$", 1)
    val noDegree = regexp_replace(
      regexp_replace(col("name_full"),
        ",?\\s*(PhD|MD|DPhil|DSc|ScD)\\.?\\s*$", ""),
      ",?\\s+(Jr|Sr|II|III|IV)\\.?\\s*$", "")
    val toks = split(trim(noDegree), "\\s+")
    val fam = when(size(toks) >= 2, element_at(toks, -1))
    val giv = when(size(toks) >= 2,
      array_join(slice(toks, lit(1), size(toks) - 1), " "))
      .otherwise(trim(noDegree))
    FunderIngestConfig(4320306082L, AwardFieldMap(
      provenance = "hhmi_scientist_pages",
      priority = 44,
      mintKey = lower(slug),
      funderAwardId = slug,
      displayName = concat(
        coalesce(noDegree, col("name_full")), lit(" — HHMI "),
        coalesce(regexp_replace(nullif(col("role"), lit("HHMI")),
          "^HHMI ", ""), lit("Scientist")),
        when(col("term").isNotNull,
          concat(lit(" ("), col("term"), lit(")"))).otherwise(lit(""))),
      description = nullif(col("bio"), lit("")),
      currency = lit("USD"),
      fundingType = when(lower(col("role")).like("%fellow%"),
        "fellowship").otherwise("research"),
      funderScheme = nullif(col("role"), lit("HHMI")),
      startDate = when(col("start_year").isNotNull,
        d(concat(col("start_year"), lit("-01-01")))),
      endDate = when(col("end_year").isNotNull,
        d(concat(col("end_year"), lit("-12-31")))),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = investigator(giv, fam, col("institution"),
        lit(null).cast("string")),
      landingPageUrl = col("url"),
      rowFilter = col("name_full").isNotNull && slug.isNotNull &&
        trim(slug) =!= ""))
  }

  /** Royal Society grants listing
    * (CreateRoyalSocietyGrantsAwards.ipynb cell 7, ~0.8K):
    * 'fellowship' rows with NULL amounts, a Jan-1 start from the
    * year, PI-only 'United Kingdom' lead, NULL works_api_url, no
    * row screen. */
  def royalSocietyGrants: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United Kingdom")))
    FunderIngestConfig(4320320006L, AwardFieldMap(
      provenance = "royal_society_grants",
      priority = 339,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("fellowship"),
      funderScheme = col("funder_scheme"),
      startDate = when(sy.isNotNull,
        d(concat(sy.cast("string"), lit("-01-01")))),
      startYear = sy,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** IADB science-and-technology project search
    * (CreateIADBScitechAwards.ipynb cell 17, ~0.8K): UNGATED amount
    * with presence-gated 'USD', approved-else-signed start date with
    * the source-year fallback, the subsector→sector→'SCIENCE AND
    * TECHNOLOGY' scheme cascade, and NO lead at all (IADB projects
    * name no investigators). */
  def iadbScitech: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val sd = coalesce(d(col("approved_date")), d(col("signed_date")))
    FunderIngestConfig(4320307862L, AwardFieldMap(
      provenance = "iadb_project_search_scitech", priority = 156,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = nullif(trim(col("description")), lit("")),
      amount = amt,
      currency = when(amt.isNotNull, "USD"),
      fundingType = coalesce(nullif(trim(col("funding_type")),
        lit("")), lit("research")),
      funderScheme = coalesce(nullif(trim(col("subsector_name")),
        lit("")), nullif(trim(col("sector_name")), lit("")),
        lit("SCIENCE AND TECHNOLOGY")),
      startDate = sd,
      startYear = coalesce(year(sd),
        col("source_year").try_cast("int")),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** LPDP RISPRO grantees (CreateLPDPRISPROAwards.ipynb cell 16,
    * ~0.7K Indonesian endowment-fund projects): NULL amounts,
    * trimmed-NULLIF scheme, date-else-source-year start-only
    * coverage, an UNCONDITIONAL trimmed 'ID' lead with
    * role_start = start. */
  def lpdpRispro: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val sd = d(col("start_date"))
    FunderIngestConfig(4320328515L, AwardFieldMap(
      provenance = "lpdp_rispro_grantees",
      priority = 136,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      fundingType = lit("research"),
      funderScheme = nullif(trim(col("funder_scheme")), lit("")),
      startDate = sd,
      startYear = coalesce(year(sd),
        col("start_year").try_cast("int")),
      leadInvestigator = investigator(
        nullif(trim(col("lead_investigator_given_name")), lit("")),
        nullif(trim(col("lead_investigator_family_name")), lit("")),
        nullif(trim(col("institution")), lit("")), lit("ID"), roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** EKFS / Else Kröner-Fresenius-Stiftung (CreateEKFSAwards.ipynb
    * cell 6, ~0.6K): the [[grantCard]] archetype with German
    * 'dd.MM.yyyy' raws, NULL dates but BOTH years, 'Germany'. */
  def ekfs: FunderIngestConfig =
    grantCard(4320321672L, "ekfs", 224, "EKFS grant ", "Germany",
      fullDates = false, endYearFromRaw = true, dateFmt = "dd.MM.yyyy")

  // ---------------------------------------------------------------
  // Round-13 eighth tranche: ZonMw, MNiSW, MBIE, ICMR, IDRC,
  // Novo Nordisk grants
  // ---------------------------------------------------------------

  /** ZonMw projects JSON:API (CreateZonMwAwards.ipynb cell 13):
    * the ':zonmw:'-salted slug mint with the SLUG as the landed
    * award id, a labeled multi-section description joined on blank
    * lines (application/progress/final-report summaries + keywords),
    * subsidies→programs→subject scheme cascade, 1900..2035 range
    * gates on BOTH dates and the year fallback chains
    * (year→start-date→end-date for start, year→end-date for end),
    * presence-gated EUR, a full-NAME-in-family leader with the
    * primary organisation, and a start-year-required screen. */
  def zonMw: FunderIngestConfig = {
    def inRange(c: Column): Column = c.between(1900, 2035)
    val sd0 = d(col("start_date")); val ed0 = d(col("end_date"))
    val sd = when(inRange(year(sd0)), sd0)
    val ed = when(inRange(year(ed0)), ed0)
    val syi = coalesce(
      when(inRange(col("start_year").try_cast("int")),
        col("start_year").try_cast("int")),
      when(inRange(year(sd0)), year(sd0)),
      when(inRange(year(ed0)), year(ed0)))
    val eyi = coalesce(
      when(inRange(col("end_year").try_cast("int")),
        col("end_year").try_cast("int")),
      when(inRange(year(ed0)), year(ed0)))
    val amt = col("project_budget_api").try_cast("double")
    val leaderName = nullif(trim(col("project_leader_name")), lit(""))
    val leaderOrg = nullif(trim(col("primary_organization")), lit(""))
    def section(label: String, c: Column): Column =
      when(nullif(trim(c), lit("")).isNotNull,
        concat(lit(label), trim(c)))
    val descr = concat_ws("\n\n",
      nullif(trim(col("description")), lit("")),
      section("Application summary: ", col("application_summary")),
      section("Progress summary: ", col("progress_summary")),
      section("Progress results: ", col("progress_results")),
      section("Final report summary: ", col("endreport_summary")),
      section("Final report results: ", col("endreport_results")),
      section("Keywords: ", col("keywords_json")))
    val lead = when(leaderName.isNotNull || leaderOrg.isNotNull,
      investigator(lit(null).cast("string"), leaderName, leaderOrg,
        lit(null).cast("string")))
    FunderIngestConfig(4320321007L, AwardFieldMap(
      provenance = "zonmw_projects_jsonapi",
      priority = 92,
      mintKey = concat(lit("zonmw:"), lower(trim(col("slug")))),
      funderAwardId = col("slug"),
      displayName = col("display_name"),
      description = nullif(descr, lit("")),
      amount = amt,
      currency = when(amt.isNotNull, "EUR"),
      fundingType = lit("research"),
      funderScheme = coalesce(
        nullif(trim(col("related_subsidies_json")), lit("")),
        nullif(trim(col("related_programs_json")), lit("")),
        nullif(trim(col("main_subject")), lit(""))),
      startDate = sd, endDate = ed,
      startYear = syi, endYear = eyi,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("project_number").isNotNull &&
        col("display_name").isNotNull && syi.isNotNull))
  }

  /** MNiSW / Polish Ministry of Science national programmes
    * (CreateMNiSWAwards.ipynb cell 7): the Research-Manitoba twin —
    * ungated decimal with unconditional 'PLN', the 2000..2027 range
    * gate on date AND year, but an ORG-ONLY 'Poland' lead. */
  def mnisw: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val inRange = sy.between(2000, 2027)
    val lead = when(col("institution").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("institution"), lit("Poland")))
    FunderIngestConfig(4320322733L, AwardFieldMap(
      provenance = "mnisw", priority = 243,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("PLN"),
      fundingType = lit("grant"),
      funderScheme = col("programme"),
      startDate = when(inRange,
        d(concat(col("start_year"), lit("-01-01")))),
      startYear = when(inRange, sy),
      leadInvestigator = lead,
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** MBIE 'Who got funded' workbook (CreateMBIEAwards.ipynb
    * cell 15): >0 NZD gate, the fellowship/whitinga and
    * studentship/training regex arms over 'research', trimmed-NULLIF
    * normalization, the future-START cap over BOTH years (NULL start
    * keeps end_year), org-only lead. The notebook's funder CTE
    * carries dim-or-constant fallbacks against an empty dim — the
    * registry row is required here as everywhere else. */
  def mbie(currentYear: Int): FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val future = year(sd) > currentYear + 1
    val scheme = nullif(trim(col("funder_scheme")), lit(""))
    val org = nullif(trim(col("organisation")), lit(""))
    val lead = when(org.isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"), org,
        lit(null).cast("string")))
    FunderIngestConfig(4320321983L, AwardFieldMap(
      provenance = "mbie_who_got_funded",
      priority = 216,
      mintKey = lower(trim(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = nullif(trim(col("display_name")), lit("")),
      description = nullif(trim(col("description")), lit("")),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, "NZD"),
      fundingType = when(lower(coalesce(scheme, lit("")))
          .rlike("fellowship|scholarship|whitinga"), "fellowship")
        .when(lower(coalesce(scheme, lit("")))
          .rlike("studentship|internship|training"), "training")
        .otherwise("research"),
      funderScheme = scheme,
      startDate = sd, endDate = ed,
      startYear = when(future, lit(null)).otherwise(year(sd)),
      endYear = when(future, lit(null)).otherwise(year(ed)),
      leadInvestigator = lead,
      landingPageUrl = col("source_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        nullif(trim(col("display_name")), lit("")).isNotNull))
  }

  /** ICMR approved projects (CreateICMRAwards.ipynb cell 11): §6.7
    * WAIVED amounts (the source's budget belongs to the
    * collaborating agency, not ICMR), subject-area scheme, a
    * 1900..2100 range-gated start year with NULL dates, a
    * name-or-org lead whose 'IN' country asserts only when the
    * affiliation name is present, the source PDF as landing. */
  def icmr: FunderIngestConfig = {
    val giv = nullif(trim(col("lead_given_name")), lit(""))
    val fam = nullif(trim(col("lead_family_name")), lit(""))
    val org = nullif(trim(col("institution")), lit(""))
    val lead = when(fam.isNotNull || org.isNotNull,
      investigator(giv, fam, org, when(org.isNotNull, "IN")))
    FunderIngestConfig(4320320720L, AwardFieldMap(
      provenance = "icmr_approved_projects",
      priority = 206,
      mintKey = lower(trim(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      fundingType = lit("research"),
      funderScheme = nullif(trim(col("subject_area")), lit("")),
      startYear = when(col("start_year").try_cast("int")
        .between(1900, 2100), col("start_year").try_cast("int")),
      leadInvestigator = lead,
      landingPageUrl = col("source_pdf_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("display_name").isNotNull))
  }

  /** The IDRC IATI budget/org/country JSON element types
    * (CreateIDRCAwards.ipynb cell 9's FROM_JSON schemas). */
  private def idrcBudget: String =
    "array<struct<status:string,type:string,period_start:string," +
      "period_end:string,value:string,currency:string," +
      "value_date:string>>"
  private def idrcOrg: String =
    "array<struct<role:string,type:string,ref:string," +
      "name_en:string,name_fr:string,name_es:string>>"
  private def idrcCountry: String =
    "array<struct<code:string,percentage:string>>"

  /** IDRC via IATI activity files (CreateIDRCAwards.ipynb cell 9):
    * EN→FR→ES title/description cascades, the budget array FOLDED
    * into a total (>0 gate; zero-budget activities are placeholders)
    * with the FIRST non-null currency, the role-4 implementing org
    * as an UNCONDITIONAL org lead with the first recipient-country
    * ISO code, actual-else-planned dates, the source XML as
    * landing. */
  def idrc: FunderIngestConfig = {
    val budgets = from_json(col("budgets_json"),
      org.apache.spark.sql.types.DataType.fromDDL(idrcBudget))
    val orgs = from_json(col("participating_orgs_json"),
      org.apache.spark.sql.types.DataType.fromDDL(idrcOrg))
    val countries = from_json(col("recipient_countries_json"),
      org.apache.spark.sql.types.DataType.fromDDL(idrcCountry))
    val emptyB = array().cast(idrcBudget)
    val total = aggregate(coalesce(budgets, emptyB), lit(0.0),
      (acc, b) => acc + coalesce(
        b.getField("value").try_cast("double"), lit(0.0)))
    val firstCurrency = try_element_at(
      filter(coalesce(budgets, emptyB),
        b => b.getField("currency").isNotNull), lit(1))
      .getField("currency")
    val implOrg = try_element_at(
      filter(coalesce(orgs, array().cast(idrcOrg)),
        o => o.getField("role") === "4"), lit(1))
    val country = try_element_at(
      coalesce(countries, array().cast(idrcCountry)), lit(1))
      .getField("code")
    val sd = coalesce(d(col("actual_start")), d(col("planned_start")))
    val ed = coalesce(d(col("actual_end")), d(col("planned_end")))
    FunderIngestConfig(4320319949L, AwardFieldMap(
      provenance = "idrc_iati", priority = 37,
      mintKey = lower(col("iati_identifier")),
      funderAwardId = col("iati_identifier"),
      displayName = coalesce(col("title_en"), col("title_fr"),
        col("title_es")),
      description = coalesce(col("description_en"),
        col("description_fr"), col("description_es")),
      amount = when(total > 0, total),
      currency = firstCurrency,
      fundingType = lit("grant"),
      startDate = sd, endDate = ed,
      startYear = year(sd), endYear = year(ed),
      leadInvestigator = investigator(lit(null).cast("string"),
        lit(null).cast("string"), coalesce(implOrg.getField("name_en"),
          implOrg.getField("name_fr"), implOrg.getField("name_es")), country),
      landingPageUrl = col("source_xml_url"),
      rowFilter = col("iati_identifier").isNotNull &&
        trim(col("iati_identifier")) =!= ""))
  }

  /** Novo Nordisk Foundation grants search API
    * (CreateNovoNordiskGrantsAwards.ipynb cell 18): UNGATED amount
    * with the raw source currency, trimmed-NULLIF scheme,
    * award-year-only coverage, an INSTITUTION-gated lead (names only
    * ride along when the institution is present; role_start =
    * Jan 1), NULL landing. */
  def novoNordiskGrants: FunderIngestConfig = {
    val sd = when(col("award_year").try_cast("int").isNotNull,
      d(concat(col("award_year"), lit("-01-01"))))
    val lead = when(col("institution").isNull ||
      trim(col("institution")) === "",
      lit(null).cast(FunderIngest.InvestigatorType))
      .otherwise(investigator(nullif(trim(col("lead_given_name")), lit("")),
        nullif(trim(col("lead_family_name")), lit("")),
        nullif(trim(col("institution")), lit("")), lit(null).cast("string"),
        roleStart = sd))
    FunderIngestConfig(4320325957L, AwardFieldMap(
      provenance = "novo_nordisk_fonden_grants",
      priority = 208,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("research"),
      funderScheme = nullif(trim(col("funder_scheme")), lit("")),
      startDate = sd,
      startYear = col("award_year").try_cast("int"),
      leadInvestigator = lead,
      rowFilter = col("display_name").isNotNull &&
        trim(col("display_name")) =!= "" &&
        col("funder_award_id").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-13 ninth tranche: Health Foundation, AAR Rome Prize,
  // Treilles, Potter, Arcadia, LCRF
  // ---------------------------------------------------------------

  /** The Health Foundation (CreateHealthFoundationAwards.ipynb
    * cell 6, ~0.6K): the minimal grant card — no amounts, NO lead at
    * all, year_awarded-only coverage, NULL works_api_url, no row
    * screen. */
  def healthFoundation: FunderIngestConfig =
    FunderIngestConfig(4320320265L, AwardFieldMap(
      provenance = "health_foundation",
      priority = 353,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startYear = col("year_awarded").try_cast("int"),
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))

  /** American Academy in Rome — Rome Prize fellows
    * (CreateAARRomePrizeAwards.ipynb cell 17, ~0.6K): 'fellowship'
    * rows titled project-else-'Rome Prize <year> - <recipient>', the
    * fellowship-name-else-discipline scheme defaulting 'Rome Prize',
    * the future cap keyed on the START coalesce NULLing BOTH years,
    * an unconditional lead whose AFFILIATION NAME is the recipient's
    * PROFESSION, and a co-fellow co-lead sharing that profession. */
  def aarRomePrize(currentYear: Int): FunderIngestConfig = {
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val py = col("source_year").try_cast("int")
    val startPick = coalesce(year(sd), py)
    val future = startPick > currentYear + 1
    val prof = nullif(trim(col("profession")), lit(""))
    val coGiv = nullif(trim(col("co_lead_given_name")), lit(""))
    val coFam = nullif(trim(col("co_lead_family_name")), lit(""))
    def card(g: Column, fam: Column): Column =
      investigator(g, fam, prof, lit(null).cast("string"), roleStart = sd)
    FunderIngestConfig(4320320895L, AwardFieldMap(
      provenance = "aar_rome_prize_fellows",
      priority = 172,
      mintKey = lower(trim(col("funder_award_id"))),
      funderAwardId = lower(trim(col("funder_award_id"))),
      displayName = coalesce(
        nullif(trim(col("project_title")), lit("")),
        concat(lit("Rome Prize "), py.cast("string"), lit(" - "),
          nullif(trim(col("recipient_name")), lit("")))),
      description = nullif(trim(col("description")), lit("")),
      fundingType = lit("fellowship"),
      funderScheme = coalesce(
        nullif(trim(col("fellowship_name")), lit("")),
        nullif(trim(col("source_discipline")), lit("")),
        lit("Rome Prize")),
      startDate = sd, endDate = ed,
      startYear = when(future, lit(null)).otherwise(startPick),
      endYear = when(future, lit(null))
        .otherwise(coalesce(year(ed), py)),
      leadInvestigator = card(
        nullif(trim(col("lead_given_name")), lit("")),
        nullif(trim(col("lead_family_name")), lit(""))),
      coLeadInvestigator = when(coGiv.isNull && coFam.isNull,
        nullInvestigator).otherwise(card(coGiv, coFam)),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("recipient_name").isNotNull &&
        trim(col("recipient_name")) =!= ""))
  }

  /** Fondation des Treilles — Prix jeune chercheur
    * (CreateTreillesYoungResearcherAwards.ipynb cell 16, ~0.6K):
    * 'prize'/'Prix jeune chercheur' constants, presence-gated EUR
    * over an ungated amount, award-year boundary dates AND both
    * years, a name-required screen, name-only lead with
    * role_start = Jan 1. */
  def treillesYoungResearcher: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val py = col("award_year").try_cast("int")
    val sd = d(concat(col("award_year"), lit("-01-01")))
    FunderIngestConfig(4320327761L, AwardFieldMap(
      provenance = "treilles_prix_jeune_chercheur", priority = 178,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = amt,
      currency = when(amt.isNotNull, "EUR"),
      fundingType = lit("prize"),
      funderScheme = lit("Prix jeune chercheur"),
      startDate = sd,
      endDate = d(concat(col("award_year"), lit("-12-31"))),
      startYear = py, endYear = py,
      leadInvestigator = investigator(nullif(trim(col("given_name")), lit("")),
        nullif(trim(col("family_name")), lit("")), lit(null).cast("string"),
        lit(null).cast("string"), roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= "" &&
        col("name").isNotNull && trim(col("name")) =!= ""))
  }

  /** Ian Potter Foundation grants (CreatePotterFoundationAwards
    * .ipynb cell 17, ~0.6K): the DURATION-MONTH end date
    * (start + months − 1 day), award-date-else-range-gated-year
    * start, the future cap NULLing dates off the start year while
    * end_year derives from the computed end date, source currency
    * behind an amount-presence gate, the 'research' program arm, an
    * unconditional org lead with source country and
    * role_start = start. */
  def potterFoundation(currentYear: Int): FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val py = col("award_year").try_cast("int")
    val sd = coalesce(d(col("award_date")),
      when(py.between(1900, currentYear + 1),
        d(concat(col("award_year"), lit("-01-01")))))
    val months = col("duration_months").try_cast("int")
    val ed = when(sd.isNotNull && months.isNotNull && months > 0,
      date_sub(add_months(sd, months), 1))
    val startPick = coalesce(year(sd), py)
    val futureDate = year(sd) > currentYear + 1
    val futureYear = startPick > currentYear + 1
    FunderIngestConfig(4320314720L, AwardFieldMap(
      provenance = "potter_foundation_grants",
      priority = 168,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = amt,
      currency = when(amt.isNotNull, col("currency")),
      fundingType = when(lower(trim(col("program_title")))
        === "research", "research").otherwise("grant"),
      funderScheme = nullif(trim(col("program_title")), lit("")),
      startDate = when(futureDate, lit(null)).otherwise(sd),
      endDate = when(futureDate, lit(null)).otherwise(ed),
      startYear = when(futureYear, lit(null)).otherwise(startPick),
      endYear = when(futureYear, lit(null)).otherwise(year(ed)),
      leadInvestigator = investigator(lit(null).cast("string"),
        lit(null).cast("string"), nullif(trim(col("recipient_name")), lit("")),
        nullif(trim(col("recipient_country")), lit("")), roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** Arcadia Fund via 360Giving (CreateArcadiaAwards.ipynb cell 15,
    * ~0.5K): award-else-start date, trimmed source currency behind
    * the amount-presence gate, funding-area-else-'Arcadia grant'
    * scheme, date-else-(year+duration−1) end year, an unconditional
    * beneficiary org lead whose 360Giving identifier lands as a
    * '360giving_recipient_org' affiliation id. */
  def arcadia: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val sd = coalesce(d(col("award_date")), d(col("start_date")))
    val ed = d(col("end_date"))
    val py = col("source_year").try_cast("int")
    val dur = col("duration_years").try_cast("int")
    val orgIds = when(col("recipient_org_identifier").isNotNull &&
      trim(col("recipient_org_identifier")) =!= "",
      array(struct(trim(col("recipient_org_identifier")).as("id"),
        lit("360giving_recipient_org").as("type"),
        lit("source").as("asserted_by"))))
      .otherwise(lit(null).cast(affIds))
    FunderIngestConfig(4320313262L, AwardFieldMap(
      provenance = "arcadia_360giving",
      priority = 148,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = nullif(trim(col("description")), lit("")),
      amount = amt,
      currency = when(amt.isNotNull,
        nullif(trim(col("currency")), lit(""))),
      fundingType = lit("grant"),
      funderScheme = coalesce(nullif(trim(col("funding_area")),
        lit("")), lit("Arcadia grant")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), py),
      endYear = coalesce(year(ed), py + dur - 1),
      leadInvestigator = investigator(lit(null).cast("string"),
        lit(null).cast("string"), nullif(trim(col("beneficiary")), lit("")),
        lit(null).cast("string"), roleStart = sd, ids = orgIds),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** LCRF / Lung Cancer Research Foundation (CreateLCRFAwards.ipynb
    * cell 7, ~0.4K): no amounts, Jan-1 start from the year, PI-only
    * 'United States' lead, NULL works_api_url, no row screen. */
  def lcrf: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United States")))
    FunderIngestConfig(4320309412L, AwardFieldMap(
      provenance = "lcrf", priority = 334,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("grant"),
      funderScheme = col("funder_scheme"),
      startDate = when(sy.isNotNull,
        d(concat(sy.cast("string"), lit("-01-01")))),
      startYear = sy,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  // ---------------------------------------------------------------
  // Round-13 tenth tranche: COSTECH, SMRI treatment trials,
  // Gulbenkian, Maudsley, Kauffman, Keck
  // ---------------------------------------------------------------

  /** COSTECH NFAST projects (CreateCOSTECHAwards.ipynb cell 17,
    * ~0.4K Tanzanian projects): presence-gated 'TZS', the
    * scheme→subprogram→program→'NFAST projects' cascade,
    * date-else-source-year coverage, an UNCONDITIONAL name-only 'TZ'
    * lead with role_start = start. */
  def costech: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val py = col("source_year").try_cast("int")
    FunderIngestConfig(4320323478L, AwardFieldMap(
      provenance = "costech_nfast_projects",
      priority = 152,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = amt,
      currency = when(amt.isNotNull, "TZS"),
      fundingType = coalesce(nullif(trim(col("funding_type")),
        lit("")), lit("research")),
      funderScheme = coalesce(nullif(trim(col("funder_scheme")),
        lit("")), nullif(trim(col("subprogram_name")), lit("")),
        nullif(trim(col("program_name")), lit("")),
        lit("NFAST projects")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), py),
      endYear = coalesce(year(ed), py),
      leadInvestigator = investigator(
        nullif(trim(col("lead_investigator_given_name")), lit("")),
        nullif(trim(col("lead_investigator_family_name")), lit("")),
        lit(null).cast("string"), lit("TZ"), roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** The SMRI other-investigators JSON element
    * (CreateSMRITreatmentTrialsAwards.ipynb cell 20). */
  private def smriPerson: String =
    "array<struct<name:string,given_name:string,family_name:string>>"

  /** SMRI / Stanley Medical Research Institute treatment trials
    * (CreateSMRITreatmentTrialsAwards.ipynb cell 20, ~0.4K): NULL
    * amounts, 'Treatment Trials' constant scheme, the TWO-DIGIT
    * award-id prefix decoding the start year (≥90 → 1900s, else
    * 2000s) over a range-gated award-year fallback, a
    * name-or-institution-or-country-gated lead, a co-lead-name-gated
    * co-lead sharing the institution/country, and the
    * other-investigators JSON array (each sharing them too). */
  def smriTreatmentTrials(currentYear: Int): FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val inst = nullif(trim(col("institution")), lit(""))
    val ctry = nullif(trim(col("country_code")), lit(""))
    val leadName = nullif(trim(col("lead_name")), lit(""))
    val coName = nullif(trim(col("co_lead_name")), lit(""))
    val two = regexp_extract(col("funder_award_id"), "^([0-9]{2})", 1)
    val yearInt = when(col("award_year").try_cast("int")
      .between(1900, currentYear + 1), col("award_year").try_cast("int"))
    val invs = from_json(col("other_investigators"),
      org.apache.spark.sql.types.DataType.fromDDL(smriPerson))
    FunderIngestConfig(4320309530L, AwardFieldMap(
      provenance = "smri_treatment_trials",
      priority = 214,
      mintKey = nid,
      funderAwardId = trim(col("funder_award_id")),
      displayName = nullif(trim(col("display_name")), lit("")),
      description = nullif(trim(col("description")), lit("")),
      fundingType = lit("research"),
      funderScheme = lit("Treatment Trials"),
      startYear = when(two =!= "",
        when(two.cast("int") >= 90, 1900).otherwise(2000)
          + two.cast("int"))
        .otherwise(yearInt),
      leadInvestigator = when(leadName.isNotNull || inst.isNotNull ||
        ctry.isNotNull,
        investigator(nullif(trim(col("lead_given_name")), lit("")),
          nullif(trim(col("lead_family_name")), lit("")), inst, ctry)),
      coLeadInvestigator = when(coName.isNotNull,
        investigator(nullif(trim(col("co_lead_given_name")), lit("")),
          nullif(trim(col("co_lead_family_name")), lit("")), inst, ctry)),
      investigators = when(invs.isNotNull,
        transform(invs, x =>
          investigator(nullif(trim(x.getField("given_name")), lit("")),
            nullif(trim(x.getField("family_name")), lit("")), inst, ctry)))
        .otherwise(FunderIngest.nullInvestigators),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** Calouste Gulbenkian Foundation projects
    * (CreateGulbenkianAwards.ipynb cell 15, ~0.4K): UNGATED amount
    * with raw source currency, 'Gulbenkian Project' constant scheme,
    * year-boundary dates AND both years, a PARTNERS-gated org lead
    * with the 'PT' default country, the `link` column as landing. */
  def gulbenkian: FunderIngestConfig = {
    val sd = d(concat(col("start_year"), lit("-01-01")))
    val lead = when(col("partners").isNull ||
      trim(col("partners")) === "",
      lit(null).cast(FunderIngest.InvestigatorType))
      .otherwise(investigator(lit(null).cast("string"),
        lit(null).cast("string"), col("partners"), lit("PT"), roleStart = sd))
    FunderIngestConfig(4320323335L, AwardFieldMap(
      provenance = "gulbenkian_projects",
      priority = 114,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("research"),
      funderScheme = lit("Gulbenkian Project"),
      startDate = sd,
      endDate = d(concat(col("end_year"), lit("-12-31"))),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("link"),
      rowFilter = col("title").isNotNull && trim(col("title")) =!= "" &&
        col("funder_award_id").isNotNull))
  }

  /** Maudsley Charity via 360Giving (CreateMaudsleyAwards.ipynb
    * cell 13, ~0.4K): the Wolfson/Thorn sibling whose title fallback
    * labels the SOURCE IDENTIFIER, >0 gate with source currency,
    * full TRY_CAST dates with raw years under the future cap, an
    * org lead with the ISO country, the source URL as landing. */
  def maudsley(currentYear: Int): FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val sy = col("start_year").try_cast("int")
    val future = sy > currentYear + 1
    val lead = when(col("recipient_org").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("recipient_org"), col("recipient_country_iso")))
    FunderIngestConfig(4320313345L, AwardFieldMap(
      provenance = "maudsley_360giving",
      priority = 184,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(col("title"),
        concat(lit("Maudsley Charity grant "), col("source_identifier"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("grant_programme"),
      startDate = d(col("start_date")), endDate = d(col("end_date")),
      startYear = when(future, lit(null)).otherwise(sy),
      endYear = when(future, lit(null))
        .otherwise(col("end_year").try_cast("int")),
      leadInvestigator = lead,
      landingPageUrl = col("source_url"),
      rowFilter = col("funder_award_id").isNotNull))
  }

  /** Ewing Marion Kauffman Foundation (CreateKauffmanAwards.ipynb
    * cell 13, ~0.3K): the 'Kauffman <type> - <org> (<year>)'
    * assembled display, UNGATED amount with raw currency, the
    * 'research' grant-type regex arm, strategy scheme, approved-on
    * start, an org lead with the 'US' taxonomy invariant gated on
    * the grantee org (role_start = approved-on). */
  def kauffman: FunderIngestConfig = {
    val sd = d(col("approved_on"))
    val lead = when(col("grantee_org").isNull ||
      col("grantee_org") === "",
      lit(null).cast(FunderIngest.InvestigatorType))
      .otherwise(investigator(lit(null).cast("string"),
        lit(null).cast("string"), col("grantee_org"), lit("US"),
        roleStart = sd))
    FunderIngestConfig(4320306140L, AwardFieldMap(
      provenance = "kauffman_foundation",
      priority = 139,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Kauffman "),
        coalesce(col("grant_type"), lit("Grant")), lit(" - "),
        col("grantee_org"),
        when(col("start_year").isNotNull,
          concat(lit(" ("), col("start_year"), lit(")")))
          .otherwise(lit(""))),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = when(lower(col("grant_type")).rlike("research"),
        "research").otherwise("grant"),
      funderScheme = col("strategy"),
      startDate = sd,
      startYear = col("start_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("grantee_org").isNotNull))
  }

  /** W. M. Keck Foundation (CreateKeckAwards.ipynb cell 6, ~0.3K):
    * UNGATED decimal with unconditional 'USD', the
    * '<program>: <institution>' display fallback, year-awarded-only
    * coverage, PI-only 'United States' lead, NULL works_api_url, no
    * row screen. */
  def keck: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United States")))
    FunderIngestConfig(4320306159L, AwardFieldMap(
      provenance = "keck", priority = 349,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("title")), lit("")),
        concat(col("program"), lit(": "), col("institution"))),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("USD"),
      fundingType = lit("grant"),
      funderScheme = col("program"),
      startYear = col("year_awarded").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  // ---------------------------------------------------------------
  // Round-13 eleventh tranche: NNF prizes, GoMRI, Vivensa,
  // Carl Zeiss, Kirby, Wallenberg
  // ---------------------------------------------------------------

  /** Novo Nordisk Fonden prize recipients
    * (CreateNovoNordiskFondenAwards.ipynb cell 15, ~0.4K): the
    * SECOND provenance slice on the NNF funder beside the grants
    * API — 'prize' rows named by the recipient with the credentials
    * string as description, NULL amounts, prize-name-else-labeled
    * scheme, award-year start, a NULL-struct-affiliation laureate
    * lead. */
  def novoNordiskFonden: FunderIngestConfig = {
    val sd = d(concat(col("award_year"), lit("-01-01")))
    val lead = struct(
      nullif(trim(col("given_name")), lit("")).as("given_name"),
      nullif(trim(col("family_name")), lit("")).as("family_name"),
      lit(null).cast("string").as("orcid"),
      sd.as("role_start"),
      lit(null).cast(affStruct).as("affiliation"))
    FunderIngestConfig(4320325957L, AwardFieldMap(
      provenance = "novo_nordisk_fonden_prizes",
      priority = 119,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("recipient_name"),
      description = col("credentials"),
      fundingType = lit("prize"),
      funderScheme = coalesce(nullif(trim(col("prize_name")), lit("")),
        lit("Novo Nordisk Fonden Prize")),
      startDate = sd,
      startYear = col("award_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("recipient_name").isNotNull &&
        trim(col("recipient_name")) =!= "" &&
        col("funder_award_id").isNotNull))
  }

  /** Gulf of Mexico Research Initiative (CreateGoMRIAwards.ipynb
    * cell 7, ~0.3K): no amounts and NO temporal coverage at all,
    * PI-only 'United States' lead, NULL works_api_url, no row
    * screen. */
  def gomri: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United States")))
    FunderIngestConfig(4320309630L, AwardFieldMap(
      provenance = "gomri", priority = 331,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("grant"),
      funderScheme = col("funder_scheme"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Vivensa Foundation / Dunhill Medical Trust
    * (CreateVivensaAwards.ipynb cell 7, ~0.2K): UNGATED decimal with
    * unconditional 'GBP', programme scheme, full dates with the RAW
    * start year and the date-derived end year, a recipient org
    * 'United Kingdom' lead, NULL landing and works URLs, no row
    * screen. */
  def vivensa: FunderIngestConfig = {
    val ed = d(col("end_date"))
    val lead = when(col("recipient").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("recipient"), lit("United Kingdom")))
    FunderIngestConfig(4320320080L, AwardFieldMap(
      provenance = "vivensa", priority = 247,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("GBP"),
      fundingType = lit("grant"),
      funderScheme = col("programme"),
      startDate = d(col("start_date")), endDate = ed,
      startYear = col("start_year").try_cast("int"),
      endYear = year(ed),
      leadInvestigator = lead,
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Carl-Zeiss-Stiftung (CreateCarlZeissAwards.ipynb cell 9,
    * ~0.2K): the slug mint, UNGATED EUR-column amount with the raw
    * source currency, the individual/fellowship-over-project type
    * arms, full dates and years, an UNCONDITIONAL funded-institution
    * org lead with 'DE'. */
  def carlZeiss: FunderIngestConfig = {
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val tof = lower(col("type_of_funding"))
    FunderIngestConfig(4320309895L, AwardFieldMap(
      provenance = "carl_zeiss_stiftung",
      priority = 38,
      mintKey = lower(col("slug")),
      funderAwardId = col("slug"),
      displayName = col("title"),
      description = col("description"),
      amount = col("amount_eur").try_cast("double"),
      currency = col("currency"),
      fundingType = when(tof.like("%individual%") ||
        tof.like("%fellowship%"), "fellowship")
        .when(tof.like("%project%"), "research")
        .otherwise("grant"),
      funderScheme = col("programme"),
      startDate = sd, endDate = ed,
      startYear = year(sd), endYear = year(ed),
      leadInvestigator = investigator(lit(null).cast("string"),
        lit(null).cast("string"), col("funded_institution"), lit("DE")),
      landingPageUrl = col("url"),
      rowFilter = col("slug").isNotNull && trim(col("slug")) =!= ""))
  }

  /** Kirby Institute recent grants (CreateKirbyAwards.ipynb cell 16,
    * ~0.2K): presence-gated 'AUD', source-year-only coverage whose
    * START YEAR (but not the derived Jan-1 date) carries the future
    * cap, an UNCONDITIONAL recipient org lead with no country. */
  def kirby(currentYear: Int): FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val py = col("source_year").try_cast("int")
    val sd = when(py.isNotNull, d(concat(col("source_year"),
      lit("-01-01"))))
    FunderIngestConfig(4320314616L, AwardFieldMap(
      provenance = "kirby_recent_grants",
      priority = 164,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = amt,
      currency = when(amt.isNotNull, "AUD"),
      fundingType = lit("grant"),
      funderScheme = nullif(trim(col("funder_scheme")), lit("")),
      startDate = sd,
      startYear = when(py > currentYear + 1, lit(null)).otherwise(py),
      leadInvestigator = investigator(lit(null).cast("string"),
        lit(null).cast("string"), nullif(trim(col("recipient_name")), lit("")),
        lit(null).cast("string"), roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** Knut and Alice Wallenberg Foundation projects
    * (CreateWallenbergAwards.ipynb cell 17, ~0.2K): UNGATED amount
    * with raw source currency, the fellow/scholar/postdoc/stipend
    * program regex arm, program-label-else-'KAW Research Project'
    * scheme, award-year start, a lead gated on ALL THREE raw columns
    * being NULL (trimmed-NULLIF inside, 'SE'). */
  def wallenberg: FunderIngestConfig = {
    val sd = d(concat(col("award_year"), lit("-01-01")))
    val lead = when(col("pi_given_name").isNull &&
      col("pi_family_name").isNull && col("institution").isNull,
      lit(null).cast(FunderIngest.InvestigatorType))
      .otherwise(investigator(nullif(trim(col("pi_given_name")), lit("")),
        nullif(trim(col("pi_family_name")), lit("")),
        nullif(trim(col("institution")), lit("")), lit("SE"), roleStart = sd))
    FunderIngestConfig(4320322327L, AwardFieldMap(
      provenance = "kaw_wallenberg_projects",
      priority = 111,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = when(lower(coalesce(col("program_label"), lit("")))
        .rlike("fellow|scholar|postdoc|stipend"), "fellowship")
        .otherwise("research"),
      funderScheme = coalesce(nullif(trim(col("program_label")),
        lit("")), lit("KAW Research Project")),
      startDate = sd,
      startYear = col("award_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("title").isNotNull && trim(col("title")) =!= "" &&
        col("funder_award_id").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-13 twelfth tranche: PCHRD, Autism Science Foundation,
  // Heineken Prizes, Vaincre Alzheimer, FNR Luxembourg, TSC Alliance
  // ---------------------------------------------------------------

  /** The small-charity year-card archetype (TSC Alliance / Vaincre
    * Alzheimer / FNR Luxembourg / Autism Science Foundation …): raw
    * title, NULL description, year-only coverage (optionally
    * range-gated with a derived Jan-1 date), PI-only country lead,
    * NULL works_api_url, no row screen. */
  private def yearCard(funderId: Long, provenance: String,
      priority: Int, country: Column,
      fundingType: Column, funderScheme: Column,
      amount: Column, currency: Column, yearCol: String,
      yearRange: Option[(Int, Int)] = None,
      dateFromYear: Boolean = false,
      orgLead: Boolean = false): FunderIngestConfig = {
    val sy = col(yearCol).try_cast("int")
    val (syOut, sdOut) = yearRange match {
      case Some((lo, hi)) =>
        val ok = sy.between(lo, hi)
        (when(ok, sy),
          when(ok, d(concat(col(yearCol), lit("-01-01")))))
      case None =>
        (sy, if (dateFromYear) when(sy.isNotNull,
          d(concat(sy.cast("string"), lit("-01-01"))))
        else lit(null).cast("date"))
    }
    val lead = if (orgLead)
      when(col("institution").isNotNull,
        investigator(lit(null).cast("string"), lit(null).cast("string"),
          col("institution"), country))
    else when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        country))
    FunderIngestConfig(funderId, AwardFieldMap(
      provenance = provenance, priority = priority,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = amount, currency = currency,
      fundingType = fundingType, funderScheme = funderScheme,
      startDate = sdOut,
      startYear = syOut,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** The PCHRD funder row carries LITERAL constants in the notebook
    * (CreatePCHRDAwards.ipynb cell 17's inline struct — name only,
    * NULL ror/doi). */
  def pchrdFunderLookup(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((4320335609L,
      "Philippine Council for Health Research and Development",
      Option.empty[String], Option.empty[String]))
      .toDF("funder_id", "display_name", "ror_id", "doi")
  }

  /** PCHRD ongoing projects (CreatePCHRDAwards.ipynb cell 17,
    * ~0.2K): paired with [[pchrdFunderLookup]] — NULL amounts,
    * project-category scheme, the source POSTED date as start, an
    * implementing-agency-gated 'PH' org lead with role_start =
    * posted. */
  def pchrd: FunderIngestConfig = {
    val sd = d(col("source_posted_date"))
    val agency = nullif(trim(col("source_implementing_agency")),
      lit(""))
    val lead = when(agency.isNull,
      lit(null).cast(FunderIngest.InvestigatorType))
      .otherwise(investigator(lit(null).cast("string"),
        lit(null).cast("string"), agency, lit("PH"), roleStart = sd))
    FunderIngestConfig(4320335609L, AwardFieldMap(
      provenance = "pchrd_ongoing_projects",
      priority = 162,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = nullif(trim(col("description")), lit("")),
      fundingType = lit("research"),
      funderScheme = nullif(trim(col("project_category")), lit("")),
      startDate = sd,
      startYear = year(sd),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("display_name").isNotNull))
  }

  /** Autism Science Foundation
    * (CreateAutismScienceFoundationAwards.ipynb cell 7, ~0.2K): the
    * [[yearCard]] archetype as 'fellowship' with the 2005..2027
    * range gate on BOTH the Jan-1 date and the year,
    * 'United States'. */
  def autismScienceFoundation: FunderIngestConfig =
    yearCard(4320310295L, "autism_science_foundation", 283,
      lit("United States"), fundingType = lit("fellowship"),
      funderScheme = col("programme"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      yearCol = "start_year", yearRange = Some((2005, 2027)))

  /** Heineken Prizes via WordPress
    * (CreateHeinekenPrizesAwards.ipynb cell 16, ~0.1K): 'prize'
    * rows with ungated amount and trimmed source currency,
    * scheme-else-'Heineken Prizes', date-else-source-year coverage,
    * a name-only laureate lead with role_start = start. */
  def heinekenPrizes: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val py = col("source_year").try_cast("int")
    FunderIngestConfig(4320320934L, AwardFieldMap(
      provenance = "heineken_prizes_wp",
      priority = 128,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = nullif(trim(col("description")), lit("")),
      amount = col("amount").try_cast("double"),
      currency = nullif(trim(col("currency")), lit("")),
      fundingType = lit("prize"),
      funderScheme = coalesce(nullif(trim(col("funder_scheme")),
        lit("")), lit("Heineken Prizes")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), py),
      endYear = coalesce(year(ed), py),
      leadInvestigator = investigator(nullif(trim(col("given_name")), lit("")),
        nullif(trim(col("family_name")), lit("")), lit(null).cast("string"),
        lit(null).cast("string"), roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** Fondation Vaincre Alzheimer (CreateVaincreAlzheimerAwards.ipynb
    * cell 7, ~0.1K): the [[yearCard]] archetype with an UNGATED
    * decimal amount whose 'EUR' gates on the RAW amount's presence
    * (a junk amount string still asserts the currency), NULL scheme,
    * 'France'. */
  def vaincreAlzheimer: FunderIngestConfig =
    yearCard(4320315322L, "vaincre_alzheimer", 299, lit("France"),
      fundingType = lit("grant"),
      funderScheme = lit(null).cast("string"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = when(col("amount").isNotNull, "EUR"),
      yearCol = "year_awarded")

  /** FNR Luxembourg (CreateFNRLuxembourgAwards.ipynb cell 7, ~0.1K):
    * the [[yearCard]] archetype with the CALL column as scheme, the
    * raw-presence 'EUR' gate, 'Luxembourg'. */
  def fnrLuxembourg: FunderIngestConfig =
    yearCard(4320321038L, "fnr_luxembourg", 305, lit("Luxembourg"),
      fundingType = lit("grant"), funderScheme = col("call"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = when(col("amount").isNotNull, "EUR"),
      yearCol = "year")

  /** TSC Alliance (CreateTSCAllianceAwards.ipynb cell 6, ~0.1K): the
    * bare [[yearCard]] — no amounts, scheme column, year_awarded,
    * 'United States'. */
  def tscAlliance: FunderIngestConfig =
    yearCard(4320306781L, "tsc_alliance", 321, lit("United States"),
      fundingType = lit("grant"), funderScheme = col("scheme"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      yearCol = "year_awarded")

  // ---------------------------------------------------------------
  // Round-13 thirteenth tranche: MHRC, MMW, NOMIS, Smithsonian SARF
  // ---------------------------------------------------------------

  /** MHRC / Mental Health Research Canada (CreateMHRCAwards.ipynb
    * cell 7, ~0.1K): the bare [[yearCard]], 'Canada'. */
  def mhrc: FunderIngestConfig =
    yearCard(4320314547L, "mhrc", 301, lit("Canada"),
      fundingType = lit("grant"), funderScheme = col("scheme"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      yearCol = "year_awarded")

  /** MMW / Marcus and Amalia Wallenberg Foundation grants
    * (CreateMMWAwards.ipynb cell 15, ~0.1K): the listing card with
    * presence-gated 'SEK', section-else-'Project grants' scheme,
    * date-else-source-year on both years, an UNCONDITIONAL 'SE'
    * lead with role_start = start. */
  def mmw: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val py = col("source_year").try_cast("int")
    FunderIngestConfig(4320327344L, AwardFieldMap(
      provenance = "mmw_wallenberg_grants",
      priority = 123,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = amt,
      currency = when(amt.isNotNull, "SEK"),
      fundingType = lit("grant"),
      funderScheme = coalesce(nullif(trim(col("source_section")),
        lit("")), lit("Project grants")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), py),
      endYear = coalesce(year(ed), py),
      leadInvestigator = investigator(
        nullif(trim(col("lead_investigator_given_name")), lit("")),
        nullif(trim(col("lead_investigator_family_name")), lit("")),
        nullif(trim(col("institution")), lit("")), lit("SE"), roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** NOMIS Foundation projects (CreateNomisAwards.ipynb cell 16,
    * ~0.1K): §6.7 waived amounts, 'research'/'NOMIS Research
    * Project' constants, award-year start, NO lead (PI names live in
    * content prose), the `link` column as landing. */
  def nomis: FunderIngestConfig = {
    val sd = d(concat(col("award_year"), lit("-01-01")))
    FunderIngestConfig(4320325162L, AwardFieldMap(
      provenance = "nomis_projects",
      priority = 109,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      fundingType = lit("research"),
      funderScheme = lit("NOMIS Research Project"),
      startDate = sd,
      startYear = col("award_year").try_cast("int"),
      landingPageUrl = col("link"),
      rowFilter = col("title").isNotNull && trim(col("title")) =!= "" &&
        col("funder_award_id").isNotNull))
  }

  /** The Smithsonian SARF funder row is non-F4320* and INLINED by
    * the notebook (CreateSmithsonianSARFAwards.ipynb cell 17's
    * Path-B constants). */
  def smithsonianSarfFunderLookup(spark: SparkSession): DataFrame =
    FunderIngest.inlineFunders(spark, Seq(
      (7230414656L, "Office of Fellowships, Smithsonian Institution",
        None, "10.13039/100023983")))

  /** Smithsonian Artist Research Fellowships
    * (CreateSmithsonianSARFAwards.ipynb cell 17, ~0.1K): paired with
    * [[smithsonianSarfFunderLookup]] — 'fellowship' with NULL
    * amounts, scheme-else-label, raw dates with the SOURCE YEAR on
    * both years, a host-unit 'US' lead with role_start = start. */
  def smithsonianSarf: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val py = col("source_year").try_cast("int")
    FunderIngestConfig(7230414656L, AwardFieldMap(
      provenance = "smithsonian_sarf",
      priority = 132,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = nullif(trim(col("description")), lit("")),
      fundingType = lit("fellowship"),
      funderScheme = coalesce(nullif(trim(col("funder_scheme")),
        lit("")), lit("Smithsonian Artist Research Fellowship")),
      startDate = sd, endDate = ed,
      startYear = py, endYear = py,
      leadInvestigator = investigator(nullif(trim(col("given_name")), lit("")),
        nullif(trim(col("family_name")), lit("")),
        nullif(trim(col("host_unit")), lit("")), lit("US"), roleStart = sd),
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  // ---------------------------------------------------------------
  // Round-13 fourteenth tranche: AAS ARISE, BBVA Frontiers, AES,
  // ANII, AOS research, Alcohol Change UK
  // ---------------------------------------------------------------

  /** AAS ARISE grantees (CreateAASARISEAwards.ipynb cell 16, ~0.1K
    * African Academy of Sciences early-career grants): NULL amounts,
    * date-else-source-year START-only coverage, an UNCONDITIONAL
    * lead with the SOURCE country (role_start = start). */
  def aasArise: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val sd = d(col("start_date"))
    FunderIngestConfig(4320327323L, AwardFieldMap(
      provenance = "aas_arise_grantees",
      priority = 134,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      fundingType = lit("grant"),
      funderScheme = nullif(trim(col("funder_scheme")), lit("")),
      startDate = sd,
      startYear = coalesce(year(sd),
        col("start_year").try_cast("int")),
      leadInvestigator = investigator(
        nullif(trim(col("lead_investigator_given_name")), lit("")),
        nullif(trim(col("lead_investigator_family_name")), lit("")),
        nullif(trim(col("institution")), lit("")),
        nullif(trim(col("country")), lit("")), roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** BBVA Foundation Frontiers of Knowledge Awards
    * (CreateBBVAFrontiersAwards.ipynb cell 14, ~0.1K): the
    * ':bbva-frontiers:' salted mint, the assembled
    * year-category-laureate display, the summary→contribution→bio
    * description cascade (un-trimmed NULLIFs), UNGATED amount with
    * NULLIF currency, year-boundary prize dates, an unconditional
    * laureate lead with raw NULLIF names and a NULL-struct
    * affiliation. */
  def bbvaFrontiers: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val lead = struct(
      nullif(col("given_name"), lit("")).as("given_name"),
      nullif(col("family_name"), lit("")).as("family_name"),
      lit(null).cast("string").as("orcid"),
      lit(null).cast("date").as("role_start"),
      lit(null).cast(affStruct).as("affiliation"))
    FunderIngestConfig(4320309764L, AwardFieldMap(
      provenance = "bbva_frontiers",
      priority = 66,
      mintKey = concat(lit("bbva-frontiers:"),
        lower(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(
        lit("BBVA Foundation Frontiers of Knowledge Award "),
        yr.cast("string"), lit(" - "), col("award_category"),
        lit(" - "), col("laureate_name")),
      description = coalesce(nullif(col("award_summary"), lit("")),
        nullif(col("contribution"), lit("")),
        nullif(col("bio"), lit(""))),
      amount = col("source_award_amount").try_cast("double"),
      currency = nullif(col("currency"), lit("")),
      fundingType = lit("prize"),
      funderScheme = nullif(col("award_category"), lit("")),
      startDate = d(concat(yr.cast("string"), lit("-01-01"))),
      endDate = d(concat(yr.cast("string"), lit("-12-31"))),
      startYear = yr, endYear = yr,
      leadInvestigator = lead,
      landingPageUrl = nullif(col("landing_page_url"), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        yr.isNotNull && col("laureate_name").isNotNull))
  }

  /** AES / American Epilepsy Society (CreateAESAwards.ipynb cell 7,
    * ~0.1K): the [[yearCard]] archetype as 'fellowship' with an
    * UNGATED Jan-1 start date from the year, 'United States'. */
  def aes: FunderIngestConfig =
    yearCard(4320306597L, "aes", 325, lit("United States"),
      fundingType = lit("fellowship"),
      funderScheme = col("funder_scheme"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      yearCol = "start_year", dateFromYear = true)

  /** ANII Uruguay projects portal (CreateANIIAwards.ipynb cell 12,
    * ~0.1K): the DURATION-MONTH end date (start + months − 1 day)
    * with its own end year, presence-gated SOURCE currency, the
    * instrument scheme, a beneficiary-PERSON-gated lead (raw names)
    * whose affiliation struct itself NULLs when the institution is
    * blank ('UY' otherwise). */
  def anii: FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val sd = d(col("start_date"))
    val months = col("duration_months").try_cast("int")
    val ed = when(sd.isNotNull && months.isNotNull,
      date_sub(add_months(sd, months), 1))
    val aff = when(col("beneficiary_institution").isNull ||
      col("beneficiary_institution") === "",
      lit(null).cast(affStruct))
      .otherwise(struct(
        col("beneficiary_institution").as("name"),
        lit("UY").as("country"),
        lit(null).cast(affIds).as("ids")))
    val lead = when(col("beneficiary_person").isNull ||
      col("beneficiary_person") === "",
      lit(null).cast(FunderIngest.InvestigatorType))
      .otherwise(struct(
        col("lead_given_name").as("given_name"),
        col("lead_family_name").as("family_name"),
        lit(null).cast("string").as("orcid"),
        lit(null).cast("date").as("role_start"),
        aff.as("affiliation")))
    FunderIngestConfig(4320310753L, AwardFieldMap(
      provenance = "anii_projects_portal",
      priority = 82,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = amt,
      currency = when(amt.isNotNull, col("currency")),
      fundingType = lit("research"),
      funderScheme = col("instrument"),
      startDate = sd, endDate = ed,
      startYear = year(sd), endYear = year(ed),
      leadInvestigator = lead,
      landingPageUrl = col("source_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("title").isNotNull))
  }

  /** AOS Kessel/LACCR research awards
    * (CreateAOSResearchAwards.ipynb cell 16, ~0.1K): SOURCE
    * funding_type and scheme (trimmed-NULLIF), trimmed source
    * currency over an ungated amount, award-year boundary dates AND
    * both years, a recipient-name-required screen, an unconditional
    * lead with affiliation but no country. */
  def aosResearch: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val sd = d(concat(col("award_year"), lit("-01-01")))
    FunderIngestConfig(4320313553L, AwardFieldMap(
      provenance = "aos_kessel_laccr_research",
      priority = 180,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = col("amount").try_cast("double"),
      currency = nullif(trim(col("currency")), lit("")),
      fundingType = nullif(trim(col("funding_type")), lit("")),
      funderScheme = nullif(trim(col("funder_scheme")), lit("")),
      startDate = sd,
      endDate = d(concat(col("award_year"), lit("-12-31"))),
      startYear = col("award_year").try_cast("int"),
      endYear = col("award_year").try_cast("int"),
      leadInvestigator = investigator(nullif(trim(col("given_name")), lit("")),
        nullif(trim(col("family_name")), lit("")),
        nullif(trim(col("affiliation")), lit("")), lit(null).cast("string"),
        roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= "" &&
        col("recipient_name").isNotNull &&
        trim(col("recipient_name")) =!= ""))
  }

  /** Alcohol Change UK / Alcohol Research UK
    * (CreateAlcoholChangeUKAwards.ipynb cell 6, ~0.1K): the
    * [[yearCard]] archetype with an ORG-ONLY 'United Kingdom'
    * lead. */
  def alcoholChangeUk: FunderIngestConfig =
    yearCard(4320319998L, "alcohol_change_uk", 317, lit("United Kingdom"),
      fundingType = lit("grant"), funderScheme = col("scheme"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      yearCol = "year_awarded", orgLead = true)

  // ---------------------------------------------------------------
  // Round-13 fifteenth tranche: Alzheimer NL, Autistica, BACP, BD2,
  // BDSRA, BRACE
  // ---------------------------------------------------------------

  /** Alzheimer Nederland (CreateAlzheimerNLAwards.ipynb, ~0.1K):
    * ungated decimal with unconditional 'EUR', programme scheme, a
    * RAW start date beside a 1980..2027 range-gated start year,
    * PI-only 'Netherlands' lead, NULL landing and works URLs. */
  def alzheimerNl: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("Netherlands")))
    FunderIngestConfig(4320326729L, AwardFieldMap(
      provenance = "alzheimer_nl",
      priority = 263,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("EUR"),
      fundingType = lit("grant"),
      funderScheme = col("programme"),
      startDate = d(col("start_date")),
      startYear = when(sy.between(1980, 2027), sy),
      leadInvestigator = lead,
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Autistica (CreateAutisticaAwards.ipynb, ~0.1K): the
    * [[yearCard]] as 'research' with an ungated Jan-1 date and NULL
    * scheme, 'United Kingdom'. */
  def autistica: FunderIngestConfig =
    yearCard(4320312945L, "autistica", 343, lit("United Kingdom"),
      fundingType = lit("research"),
      funderScheme = lit(null).cast("string"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      yearCol = "start_year", dateFromYear = true)

  /** BACP (CreateBACPAwards.ipynb, ~0.1K): the Autistica twin. */
  def bacp: FunderIngestConfig =
    yearCard(4320312936L, "bacp", 346, lit("United Kingdom"),
      fundingType = lit("research"),
      funderScheme = lit(null).cast("string"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      yearCol = "start_year", dateFromYear = true)

  /** The BD2 funder row is MISSING from the registry (F8901078393
    * gap) and INLINED by the notebook (CreateBD2Awards.ipynb's
    * funder_row constants). */
  def bd2FunderLookup(spark: SparkSession): DataFrame =
    FunderIngest.inlineFunders(spark, Seq(
      (8901078393L,
        "BD2 Breakthrough Discoveries for thriving with Bipolar " +
          "Disorder",
        Some("https://ror.org/00z5dw933"), "10.13039/100028749")))

  /** BD2 (CreateBD2Awards.ipynb, ~0.1K): paired with
    * [[bd2FunderLookup]] — the [[yearCard]] with scheme column and
    * year_awarded, 'United States'. */
  def bd2: FunderIngestConfig =
    yearCard(8901078393L, "bd2", 309, lit("United States"),
      fundingType = lit("grant"), funderScheme = col("scheme"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      yearCol = "year_awarded")

  /** BDSRA / Batten Disease Support and Research Association
    * (CreateBDSRAAwards.ipynb, ~0.1K): the [[yearCard]] with an
    * ungated decimal and unconditional 'USD', Jan-1 date, NULL
    * scheme, and a lead whose COUNTRY is NULL (never guessed). */
  def bdsra: FunderIngestConfig =
    yearCard(4320308508L, "bdsra", 345, lit(null).cast("string"),
      fundingType = lit("grant"),
      funderScheme = lit(null).cast("string"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("USD"),
      yearCol = "start_year", dateFromYear = true)

  /** BRACE Alzheimer's research charity (CreateBRACEAwards.ipynb,
    * ~0.1K): 'research' with NO temporal coverage at all, a PI lead
    * whose affiliation NAME is NULL ('United Kingdom' only), NULL
    * works_api_url. */
  def brace: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), lit(null).cast("string"),
        lit("United Kingdom")))
    FunderIngestConfig(4320312938L, AwardFieldMap(
      provenance = "brace", priority = 337,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("research"),
      funderScheme = col("funder_scheme"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  // ---------------------------------------------------------------
  // Round-13 sixteenth tranche: the UK/NA charity cluster — BTFC,
  // Blood Cancer UK, Brain Aneurysm, Brain Research UK, Brain
  // Tumour Charity, Breast Cancer Now
  // ---------------------------------------------------------------

  /** BTFC / Brain Tumour Foundation of Canada
    * (CreateBTFCAwards.ipynb, ~0.1K): the bare [[yearCard]],
    * 'Canada'. */
  def btfc: FunderIngestConfig =
    yearCard(4320319978L, "btfc", 311, lit("Canada"),
      fundingType = lit("grant"), funderScheme = col("scheme"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      yearCol = "year_awarded")

  /** Blood Cancer UK (CreateBloodCancerUKAwards.ipynb, ~0.1K): NO
    * temporal coverage, the CONDITIONS column as description and
    * research_type as scheme, PI-only 'United Kingdom' lead, NULL
    * works_api_url. */
  def bloodCancerUk: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United Kingdom")))
    FunderIngestConfig(4320329013L, AwardFieldMap(
      provenance = "blood_cancer_uk",
      priority = 259,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("conditions"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("grant"),
      funderScheme = col("research_type"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Brain Aneurysm Foundation (CreateBrainAneurysmAwards.ipynb,
    * ~0.1K): the [[yearCard]] with an ungated decimal, unconditional
    * 'USD', and the SPONSOR column as scheme, 'United States'. */
  def brainAneurysm: FunderIngestConfig =
    yearCard(4320314312L, "brain_aneurysm", 307, lit("United States"),
      fundingType = lit("grant"), funderScheme = col("sponsor"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("USD"),
      yearCol = "year_awarded")

  /** The Brain-Research-UK/Brain-Tumour-Charity twin shape: raw
    * start date, ASYMMETRIC 1990..2030 start / 1990..2035 end year
    * bands, programme scheme, PI-only 'United Kingdom' lead, NULL
    * works_api_url, no row screen. */
  private def brainCharity(funderId: Long, provenance: String,
      priority: Int, amount: Column,
      currency: Column): FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val ey = col("end_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United Kingdom")))
    FunderIngestConfig(funderId, AwardFieldMap(
      provenance = provenance, priority = priority,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = amount, currency = currency,
      fundingType = lit("grant"),
      funderScheme = col("programme"),
      startDate = d(col("start_date")),
      startYear = when(sy.between(1990, 2030), sy),
      endYear = when(ey.between(1990, 2035), ey),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Brain Research UK (CreateBrainResearchUKAwards.ipynb, ~0.1K):
    * the [[brainCharity]] twin with NO amounts. */
  def brainResearchUk: FunderIngestConfig =
    brainCharity(4320314536L, "brain_research_uk", 281,
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"))

  /** The Brain Tumour Charity (CreateBrainTumourCharityAwards.ipynb,
    * ~0.1K): the [[brainCharity]] twin with an ungated decimal and
    * unconditional 'GBP'. */
  def brainTumourCharity: FunderIngestConfig =
    brainCharity(4320321000L, "brain_tumour_charity", 277,
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("GBP"))

  /** Breast Cancer Now (CreateBreastCancerNowAwards.ipynb, ~0.1K):
    * NO temporal coverage, an ungated decimal whose 'GBP' gates on
    * the RAW amount's presence, NULL scheme, PI-only 'United
    * Kingdom' lead, NULL works_api_url. */
  def breastCancerNow: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United Kingdom")))
    FunderIngestConfig(4320311542L, AwardFieldMap(
      provenance = "breast_cancer_now",
      priority = 297,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = when(col("amount").isNotNull, "GBP"),
      fundingType = lit("grant"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  // ---------------------------------------------------------------
  // Round-13 seventeenth tranche: CHSS, CURE Epilepsy, Cariplo,
  // Crohn's & Colitis UK, Cure Parkinson's, ERUK
  // ---------------------------------------------------------------

  /** The no-coverage charity card (CURE Epilepsy / Crohn's &
    * Colitis / Cure Parkinson's / ERUK …): raw title, no dates, a
    * PI-family-gated lead, NULL works_api_url, no row screen. */
  private def charityCard(funderId: Long, provenance: String,
      priority: Int, description: Column, funderScheme: Column,
      amount: Column, currency: Column, country: Column,
      fundingType: Column = lit("grant"),
      startYear: Column = lit(null).cast("int")): FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        country))
    FunderIngestConfig(funderId, AwardFieldMap(
      provenance = provenance, priority = priority,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = description,
      amount = amount, currency = currency,
      fundingType = fundingType, funderScheme = funderScheme,
      startYear = startYear,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** CHSS / Chest Heart & Stroke Scotland (CreateCHSSAwards.ipynb):
    * the [[yearCard]] with an ungated decimal, unconditional 'GBP',
    * and the PROJECT_TYPES column as scheme. */
  def chss: FunderIngestConfig =
    yearCard(4320324771L, "chss", 295, lit("United Kingdom"),
      fundingType = lit("grant"), funderScheme = col("project_types"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("GBP"), yearCol = "year_awarded")

  /** CURE Epilepsy (CreateCUREEpilepsyAwards.ipynb): the
    * [[charityCard]] with description and programme columns and a
    * NULL-country lead. */
  def cureEpilepsy: FunderIngestConfig =
    charityCard(4320307214L, "cure_epilepsy", 273,
      description = col("description"),
      funderScheme = col("programme"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      country = lit(null).cast("string"))

  /** Fondazione Cariplo (CreateCariploAwards.ipynb): the
    * [[yearCard]] whose display DOUBLE-NULLIFs the title (blank AND
    * the '0' placeholder both fall to the labeled id), >0 gates on
    * amount and source currency, 'Italy'. */
  def cariplo: FunderIngestConfig = {
    val amt = col("amount").try_cast("decimal(18,2)")
    val base = yearCard(4320321499L, "cariplo", 361, lit("Italy"),
      fundingType = lit("grant"), funderScheme = col("scheme"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      yearCol = "year_awarded")
    base.copy(fields = base.fields.copy(displayName = coalesce(
      nullif(nullif(trim(col("title")), lit("")), lit("0")),
      concat(lit("Cariplo grant "), col("funder_award_id")))))
  }

  /** Crohn's & Colitis UK (CreateCrohnsColitisUKAwards.ipynb): the
    * [[charityCard]] with an ungated decimal, unconditional 'GBP',
    * NULL scheme, 'United Kingdom'. */
  def crohnsColitisUk: FunderIngestConfig =
    charityCard(4320321982L, "crohns_colitis_uk", 285,
      description = lit(null).cast("string"),
      funderScheme = lit(null).cast("string"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("GBP"),
      country = lit("United Kingdom"))

  /** Cure Parkinson's Trust (CreateCureParkinsonsAwards.ipynb): the
    * [[charityCard]] with description, the YEAR column as
    * start_year, NULL scheme and country. */
  def cureParkinsons: FunderIngestConfig =
    charityCard(4320315983L, "cure_parkinsons", 303,
      description = col("description"),
      funderScheme = lit(null).cast("string"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      country = lit(null).cast("string"),
      startYear = col("year").try_cast("int"))

  /** ERUK / Epilepsy Research UK (CreateERUKAwards.ipynb):
    * 'research' rows with an ALWAYS-NULL lead (the notebook's lead
    * CASE gates on a NULL literal — kept verbatim as a null
    * investigator), no coverage, NULL scheme. */
  def eruk: FunderIngestConfig = FunderIngestConfig(4320320012L, AwardFieldMap(
    provenance = "eruk", priority = 335,
    mintKey = lower(col("funder_award_id")),
    funderAwardId = col("funder_award_id"),
    displayName = col("title"),
    amount = lit(null).cast("decimal(18,2)"),
    fundingType = lit("research"),
    landingPageUrl = col("landing_page_url"),
    rowFilter = lit(true),
    worksApiUrl = Some(lit(null).cast("string"))))

  // ---------------------------------------------------------------
  // Round-13 eighteenth tranche: Cyprus RIF, EDCTP, Fields Medal,
  // Fondation ARC, GLA, GVA
  // ---------------------------------------------------------------

  /** Cyprus Research & Innovation Foundation funded projects
    * (CreateCyprusRIFAwards.ipynb): the DOUBLE-try_cast year parse
    * (string → double → int, '2019.0' survives) with ASYMMETRIC
    * 1900..current+1 start / 1900..current+10 end bands, >0 EUR
    * gates, the DIDAKTOR/Post-Doctoral/PhD case-insensitive
    * fellowship arms, a family-or-affiliation lead with no
    * country. */
  def cyprusRif(currentYear: Int): FunderIngestConfig = {
    val aid = nullif(trim(col("funder_award_id")), lit(""))
    val amt = col("amount").try_cast("double")
    val sy = col("start_year").try_cast("double").try_cast("int")
    val ey = col("end_year").try_cast("double").try_cast("int")
    val prog = nullif(trim(col("programme")), lit(""))
    val giv = nullif(trim(col("lead_given_name")), lit(""))
    val fam = nullif(trim(col("lead_family_name")), lit(""))
    val aff = nullif(trim(col("lead_affiliation_name")), lit(""))
    val lead = when(fam.isNotNull || aff.isNotNull,
      investigator(giv, fam, aff, lit(null).cast("string")))
    FunderIngestConfig(4320330084L, AwardFieldMap(
      provenance = "cyprus_rif_funded_projects",
      priority = 212,
      mintKey = lower(trim(aid)),
      funderAwardId = aid,
      displayName = nullif(trim(col("display_name")), lit("")),
      description = nullif(trim(col("description")), lit("")),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, "EUR"),
      fundingType = when(lower(prog).like("%didaktor%") ||
        lower(prog).like("%post-doctoral%") ||
        lower(prog).like("%phd%"), "fellowship")
        .otherwise("research"),
      funderScheme = prog,
      startDate = d(col("start_date")),
      startYear = when(sy.between(1900, currentYear + 1), sy),
      endYear = when(ey.between(1900, currentYear + 10), ey),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = aid.isNotNull &&
        nullif(trim(col("display_name")), lit("")).isNotNull))
  }

  /** EDCTP grants portal (CreateEDCTPAwards.ipynb): presence-gated
    * 'EUR', type-else-'research', 1800..2100 year bands beside full
    * dates, a family-or-host-institution lead with the host country,
    * the dim-or-constant funder fallback noted as in MBIE. */
  def edctp: FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val giv = nullif(trim(col("lead_given_name")), lit(""))
    val fam = nullif(trim(col("lead_family_name")), lit(""))
    val host = nullif(trim(col("host_institution")), lit(""))
    val hostCountry = nullif(trim(col("host_country")), lit(""))
    val lead = when(fam.isNotNull || host.isNotNull,
      investigator(giv, fam, host, hostCountry))
    FunderIngestConfig(4320338462L, AwardFieldMap(
      provenance = "edctp_grants_portal",
      priority = 205,
      mintKey = lower(trim(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = nullif(trim(col("description")), lit("")),
      amount = amt,
      currency = when(amt.isNotNull, "EUR"),
      fundingType = coalesce(nullif(trim(col("funding_type")),
        lit("")), lit("research")),
      funderScheme = nullif(trim(col("funder_scheme")), lit("")),
      startDate = sd, endDate = ed,
      startYear = when(col("start_year").try_cast("int")
        .between(1800, 2100), col("start_year").try_cast("int")),
      endYear = when(col("end_year").try_cast("int")
        .between(1800, 2100), col("end_year").try_cast("int")),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("display_name").isNotNull))
  }

  /** IMU Fields Medal (CreateFieldsMedalAwards.ipynb): the
    * ':fields:' salted mint over the RAW year-surname slug (never
    * lowered), the 'fields-<slug>' landed award id, the
    * declined-medal description cascade, Aug-1 ceremony dates on
    * BOTH ends, an unconditional medalist lead with the
    * when-awarded affiliation, §6.7 waived (non-monetary). */
  def fieldsMedal: FunderIngestConfig = {
    val yr = col("year").try_cast("int")
    val declined = col("declined")
    val aug = d(concat(yr.cast("string"), lit("-08-01")))
    FunderIngestConfig(4320320877L, AwardFieldMap(
      provenance = "imu_fields_medal",
      priority = 50,
      mintKey = concat(lit("fields:"), col("slug")),
      funderAwardId = concat(lit("fields-"), col("slug")),
      displayName = concat(lit("Fields Medal "), yr.cast("string"),
        lit(" — "), col("medalist_name")),
      description = when(declined && col("citation").isNotNull,
        concat(lit("Declined the medal. "), col("citation")))
        .when(declined, lit("Declined the medal."))
        .otherwise(col("citation")),
      fundingType = lit("prize"),
      funderScheme = lit("Fields Medal"),
      startDate = aug, endDate = aug,
      startYear = yr, endYear = yr,
      leadInvestigator = investigator(col("given_name"), col("family_name"),
        col("affiliation_when_awarded"), lit(null).cast("string")),
      landingPageUrl = col("source_url"),
      rowFilter = col("slug").isNotNull && col("year").isNotNull))
  }

  /** Fondation ARC (CreateFondationArcAwards.ipynb): the
    * [[yearCard]] with an ungated Jan-1 date and the funder_scheme
    * column, 'France'. */
  def fondationArc: FunderIngestConfig =
    yearCard(4320322361L, "fondation_arc", 332, lit("France"),
      fundingType = lit("grant"), funderScheme = col("funder_scheme"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      yearCol = "start_year", dateFromYear = true)

  /** GLA / Global Lyme Alliance (CreateGLAAwards.ipynb): the
    * [[charityCard]] as 'research' whose lead carries a NULL
    * affiliation NAME with 'United States'. */
  def gla: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), lit(null).cast("string"),
        lit("United States")))
    FunderIngestConfig(4320315262L, AwardFieldMap(
      provenance = "gla", priority = 344,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("research"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** GVA / Generalitat Valenciana subvenciones portal
    * (CreateGVAAwards.ipynb): the extracto-else-convocatoria
    * display, the predoctoral/beca/grisolía fellowship regex over
    * the CONVOCATORIA, the línea→línea-agregada→finalidad scheme
    * cascade, >0 EUR gates, date-else-EJERCICIO start year, a
    * three-tier landing fallback ending at the portal search page,
    * an institution-gated 'Spain' org lead, no row screen. */
  def gva: FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val sd = d(col("start_date"))
    val lead = when(col("institution_name").isNotNull &&
      trim(col("institution_name")) =!= "",
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("institution_name"), lit("Spain")))
    FunderIngestConfig(4320321864L, AwardFieldMap(
      provenance = "gva", priority = 419,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("titulo_extracto")),
        lit("")), col("convocatoria")),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, "EUR"),
      fundingType = when(lower(col("convocatoria")).rlike(
        "(predoctoral|postdoctoral|posdoctoral|doctorand|beca|" +
          "contractaci|contrataci|grisol|acif|apostd)"), "fellowship")
        .otherwise("research"),
      funderScheme = coalesce(nullif(trim(col("linea")), lit("")),
        nullif(trim(col("linea_agregada")), lit("")),
        col("finalidad")),
      startDate = sd,
      startYear = coalesce(year(sd), col("ejercicio").try_cast("int")),
      leadInvestigator = lead,
      landingPageUrl = coalesce(nullif(trim(col("url_publi")), lit("")),
        nullif(trim(col("url_base")), lit("")),
        lit("https://gvaoberta.gva.es/es/buscador-de-subvencions")),
      rowFilter = lit(true)))
  }

  // ---------------------------------------------------------------
  // Round-13 nineteenth tranche: Gairdner, Garfield Weston, Gerber,
  // Guy's & St Thomas', HRC NZ, Hilton
  // ---------------------------------------------------------------

  /** Canada Gairdner Awards (CreateGairdnerAwards.ipynb): the
    * ':gairdner:' salted mint, the '<award> <year> - <laureate>'
    * display, the declined-prize description over a
    * citation→description→summary cascade, the
    * amount-waived-but-'CAD'-KEPT quirk, year-boundary dates, an
    * unconditional laureate lead whose affiliation NAME is the
    * POSITION TITLE. */
  def gairdner: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val declined = col("declined").try_cast("boolean")
    val text = coalesce(nullif(col("citation"), lit("")),
      nullif(col("description"), lit("")),
      nullif(col("award_summary"), lit("")))
    FunderIngestConfig(4320313415L, AwardFieldMap(
      provenance = "gairdner_sitefinity",
      priority = 62,
      mintKey = concat(lit("gairdner:"),
        lower(trim(col("funder_award_id")))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(col("award_name"), lit(" "),
        col("award_year").cast("string"), lit(" - "),
        col("laureate_name")),
      description = when(declined && text.isNotNull,
        concat(lit("Declined the prize. "), text))
        .when(declined, lit("Declined the prize."))
        .otherwise(text),
      currency = lit("CAD"),
      fundingType = lit("prize"),
      funderScheme = col("award_name"),
      startDate = d(concat(col("award_year").cast("string"),
        lit("-01-01"))),
      endDate = d(concat(col("award_year").cast("string"),
        lit("-12-31"))),
      startYear = yr, endYear = yr,
      leadInvestigator = investigator(
        nullif(col("laureate_given_name"), lit("")),
        nullif(col("laureate_family_name"), lit("")),
        nullif(col("laureate_position_title"), lit("")),
        lit(null).cast("string")),
      landingPageUrl = col("laureate_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("laureate_name").isNotNull &&
        col("award_name").isNotNull && col("award_year").isNotNull))
  }

  /** Garfield Weston Foundation via 360Giving
    * (CreateGarfieldWestonAwards.ipynb): the Wolfson-family card —
    * >0 'GBP' gate, grant-programme scheme, TRY_CAST dates with raw
    * start year, a recipient-org lead with NO country column in the
    * source (never guessed), NULL landing. */
  def garfieldWeston: FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val lead = when(col("recipient_org").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("recipient_org"), lit(null).cast("string")))
    FunderIngestConfig(4320314718L, AwardFieldMap(
      provenance = "garfield_weston_foundation",
      priority = 159,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(col("title"),
        concat(lit("Garfield Weston Foundation grant "),
          col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, "GBP"),
      fundingType = lit("grant"),
      funderScheme = col("grant_programme"),
      startDate = d(col("start_date")),
      startYear = col("start_year").try_cast("int"),
      leadInvestigator = lead,
      rowFilter = col("funder_award_id").isNotNull))
  }

  /** Gerber Foundation (CreateGerberAwards.ipynb): the [[yearCard]]
    * with an ungated decimal, unconditional 'USD', and NULL scheme,
    * 'United States'. */
  def gerber: FunderIngestConfig =
    yearCard(4320306353L, "gerber", 289, lit("United States"),
      fundingType = lit("grant"),
      funderScheme = lit(null).cast("string"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("USD"), yearCol = "year_awarded")

  /** Guy's & St Thomas' Charity via 360Giving
    * (CreateGuysStThomasAwards.ipynb): the Wolfson-family card with
    * the SOURCE currency behind the >0 gate and the recipient-org
    * identifier landed as a '360Giving Recipient Org:Identifier'
    * affiliation id, NULL landing. */
  def guysStThomas: FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val orgIds = when(col("recipient_org_identifier").isNotNull,
      array(struct(col("recipient_org_identifier").as("id"),
        lit("360Giving Recipient Org:Identifier").as("type"),
        lit("source").as("asserted_by"))))
      .otherwise(lit(null).cast(affIds))
    val lead = when(col("recipient_org").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("recipient_org"), lit(null).cast("string"), ids = orgIds))
    FunderIngestConfig(4320320083L, AwardFieldMap(
      provenance = "guys_st_thomas_360giving",
      priority = 196,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(col("title"),
        concat(lit("Guy's and St Thomas' Charity grant "),
          col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("grant_programme"),
      startDate = d(col("start_date")),
      startYear = col("start_year").try_cast("int"),
      leadInvestigator = lead,
      rowFilter = col("funder_award_id").isNotNull))
  }

  /** HRC / Health Research Council of New Zealand research
    * repository (CreateHRCAwards.ipynb): the HONORIFIC STRIP chain
    * (Emeritus/Distinguished prefix + Professor/Dr/Sir/Dame titles,
    * then trailing NZ honours/fellowship postnominals) feeding the
    * last-token family split, presence-gated 'NZD', the
    * fellowship/scholarship/career/training proposal-type arms,
    * 1800..2100 start year, a family-or-host lead whose 'NZ'
    * asserts only with the affiliation. */
  def hrcNz: FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val cleanName = trim(regexp_replace(regexp_replace(
      col("researchers_raw"),
      "^((Emeritus|Distinguished|Associate|Adjunct|Clinical|Honorary)" +
        "\\s+)?(Professor|Prof\\.?|Dr\\.?|Doctor|Mr\\.?|Mrs\\.?|" +
        "Ms\\.?|Miss|Sir|Dame)\\s+", ""),
      "(\\s+(DNZM|GNZM|KNZM|CNZM|ONZM|MNZM|QSO|QSM|CRSNZ|FRSNZ|FRS|" +
        "FMedSci|FRSC|FRACP|FRACS|FRCP|FNZIC|CBE|OBE|MBE|KBE|DBE|" +
        "CNZOM|KC|QC|JP|[A-Z]{3,}))+$", ""))
    val toks = split(cleanName, " ")
    val fam = when(cleanName.isNotNull && length(cleanName) > 0,
      element_at(toks, -1))
    val giv = when(size(toks) > 1,
      array_join(slice(toks, lit(1), size(toks) - 1), " "))
    val host = nullif(trim(col("host_organization")), lit(""))
    val prop = col("proposal_type")
    val lead = when(fam.isNotNull || host.isNotNull,
      investigator(giv, fam, host, when(host.isNotNull, "NZ")))
    FunderIngestConfig(4320334749L, AwardFieldMap(
      provenance = "hrc_research_repository",
      priority = 204,
      mintKey = lower(trim(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = nullif(trim(col("description")), lit("")),
      amount = amt,
      currency = when(amt.isNotNull, "NZD"),
      fundingType = when(lower(prop).like("%fellowship%") ||
        lower(prop).like("%scholarship%") ||
        lower(prop).like("%career%"), "fellowship")
        .when(lower(prop).like("%training%"), "training")
        .otherwise("research"),
      funderScheme = nullif(trim(col("proposal_type")), lit("")),
      startYear = when(col("start_year").try_cast("int")
        .between(1800, 2100), col("start_year").try_cast("int")),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("display_name").isNotNull))
  }

  /** Conrad N. Hilton Foundation (CreateHiltonAwards.ipynb): the
    * Kauffman-style '<program> - <org-else-title> (<year>)'
    * assembled display, >0 gate with source currency, program
    * scheme, year-only coverage on BOTH years, a grantee-org lead
    * whose country is NEVER guessed (Area Served is a region). */
  def hilton: FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val lead = when(col("grantee_org").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("grantee_org"), lit(null).cast("string")))
    FunderIngestConfig(4320306180L, AwardFieldMap(
      provenance = "hilton_foundation",
      priority = 153,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(coalesce(col("program"), lit("Grant")),
        lit(" - "), coalesce(col("grantee_org"), col("title")),
        when(col("start_year").isNotNull,
          concat(lit(" ("), col("start_year"), lit(")")))
          .otherwise(lit(""))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("program"),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-13 twentieth tranche: INCa, Irish Cancer Society, KRUK,
  // Lumina, Medical Research Scotland, MQ Mental Health
  // ---------------------------------------------------------------

  /** INCa / Institut National du Cancer (CreateINCaAwards.ipynb):
    * >0 gates with source currency, 'yyyy' year-only raws on both
    * years, labeled-id display fallback, an institution-gated
    * org-only 'France' lead. */
  def inca: FunderIngestConfig = {
    val amt = col("amount").try_cast("decimal(18,2)")
    def yFmt(c: Column): Column =
      year(to_date(try_to_timestamp(c, lit("yyyy"))))
    val lead = when(col("institution").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("institution"), lit("France")))
    FunderIngestConfig(4320323807L, AwardFieldMap(
      provenance = "inca", priority = 228,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("title")), lit("")),
        concat(lit("INCa grant "), col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startYear = yFmt(col("start_date_raw")),
      endYear = yFmt(col("end_date_raw")),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull,
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Irish Cancer Society (CreateIrishCancerSocietyAwards.ipynb):
    * the bare [[yearCard]], 'Ireland'. */
  def irishCancerSociety: FunderIngestConfig =
    yearCard(4320320839L, "irish_cancer_society", 319, lit("Ireland"),
      fundingType = lit("grant"), funderScheme = col("scheme"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      yearCol = "year_awarded")

  /** KRUK / Kidney Research UK (CreateKRUKAwards.ipynb): ungated
    * decimal with unconditional 'GBP', programme scheme, a RAW
    * start date beside a 1980..2027 range-gated start year, PI-only
    * 'United Kingdom' lead, NULL landing and works URLs. */
  def kruk: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United Kingdom")))
    FunderIngestConfig(4320320008L, AwardFieldMap(
      provenance = "kruk", priority = 257,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("GBP"),
      fundingType = lit("grant"),
      funderScheme = col("programme"),
      startDate = d(col("start_date")),
      startYear = when(sy.between(1980, 2027), sy),
      leadInvestigator = lead,
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Lumina Foundation grants database (CreateLuminaAwards.ipynb):
    * presence-gated 'USD', type-else-'grant' and
    * scheme-else-'Lumina grants database' cascades,
    * date-else-source-year on both years, an UNCONDITIONAL recipient
    * 'US' org lead with role_start = start. */
  def lumina: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val py = col("source_year").try_cast("int")
    FunderIngestConfig(4320306409L, AwardFieldMap(
      provenance = "lumina_grant_database",
      priority = 150,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = amt,
      currency = when(amt.isNotNull, "USD"),
      fundingType = coalesce(nullif(trim(col("funding_type")),
        lit("")), lit("grant")),
      funderScheme = coalesce(nullif(trim(col("funder_scheme")),
        lit("")), lit("Lumina grants database")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), py),
      endYear = coalesce(year(ed), py),
      leadInvestigator = investigator(lit(null).cast("string"),
        lit(null).cast("string"), nullif(trim(col("recipient_name")), lit("")),
        lit("US"), roleStart = sd),
      landingPageUrl = nullif(trim(col("landing_page_url")), lit("")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** Medical Research Scotland
    * (CreateMedicalResearchScotlandAwards.ipynb): the [[yearCard]]
    * as 'fellowship' with the 1990..2030 range gate on date AND
    * year and NULL scheme, 'United Kingdom'. */
  def medicalResearchScotland: FunderIngestConfig =
    yearCard(4320320011L, "medical_research_scotland", 279,
      lit("United Kingdom"), fundingType = lit("fellowship"),
      funderScheme = lit(null).cast("string"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      yearCol = "start_year", yearRange = Some((1990, 2030)))

  /** MQ Mental Health (CreateMQMentalHealthAwards.ipynb): the
    * FUNDING-PERIOD regex years (leading and trailing 4-digit
    * groups of 'YYYY-YYYY'), a PI lead whose country NORMALIZES
    * UK/USA to the long forms and passes anything else through. */
  def mqMentalHealth: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        when(col("location") === "UK", "United Kingdom")
          .when(col("location") === "USA", "United States")
          .otherwise(col("location"))))
    FunderIngestConfig(4320312944L, AwardFieldMap(
      provenance = "mq_mental_health",
      priority = 271,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startYear = regexp_extract(col("funding_period_raw"),
        "^(\\d{4})", 1).try_cast("int"),
      endYear = regexp_extract(col("funding_period_raw"),
        "(\\d{4})$", 1).try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  // ---------------------------------------------------------------
  // Round-13 twenty-first tranche: NPF, NTAP, ONS Foundation, OSF,
  // PBTF, Parkinson's UK
  // ---------------------------------------------------------------

  /** NPF / National Psoriasis Foundation (CreateNPFAwards.ipynb):
    * ENGLISH-MONTH 'MMMM d, yyyy' full dates on both ends, ungated
    * decimal whose 'USD' gates on the RAW amount's presence, a PI
    * lead with NO country. */
  def npf: FunderIngestConfig = {
    def mFmt(c: Column): Column =
      to_date(try_to_timestamp(c, lit("MMMM d, yyyy")))
    val sd = mFmt(col("start_date_raw"))
    val ed = mFmt(col("end_date_raw"))
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit(null).cast("string")))
    FunderIngestConfig(4320307379L, AwardFieldMap(
      provenance = "npf", priority = 293,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = when(col("amount").isNotNull, "USD"),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startDate = sd, endDate = ed,
      startYear = year(sd), endYear = year(ed),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** NTAP / Neurofibromatosis Therapeutic Acceleration Program
    * (CreateNTAPAwards.ipynb): the [[charityCard]] with description
    * and the SOURCE country column in the lead. */
  def ntap: FunderIngestConfig =
    charityCard(4320333709L, "ntap", 330,
      description = col("description"),
      funderScheme = col("funder_scheme"),
      amount = lit(null).cast("decimal(18,2)"),
      currency = lit(null).cast("string"),
      country = col("country"))

  /** ONS Foundation / Oncology Nursing Society
    * (CreateONSFoundationAwards.ipynb): year-only coverage with an
    * ungated Jan-1 date, a PI lead whose affiliation NAME is NULL
    * ('United States' only). */
  def onsFoundation: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), lit(null).cast("string"),
        lit("United States")))
    FunderIngestConfig(4320308531L, AwardFieldMap(
      provenance = "ons_foundation",
      priority = 347,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("grant"),
      funderScheme = col("funder_scheme"),
      startDate = when(sy.isNotNull,
        d(concat(sy.cast("string"), lit("-01-01")))),
      startYear = sy,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** The OSF surrogate mint (CreateOSFAwards.ipynb's src CTE —
    * multiple grants to the same grantee in the same year are
    * common): grantee + year + amount + page + a monotonic id,
    * applied BEFORE [[osf]] exactly as [[rwjfSurrogate]]. */
  def osfSurrogate(raw: DataFrame): DataFrame =
    raw.filter(col("grantee_name").isNotNull &&
      trim(col("grantee_name")) =!= "")
      .withColumn("surrogate_id", pmod(abs(xxhash64(concat(
        coalesce(col("grantee_name"), lit("")), lit(":"),
        col("year").cast("string"), lit(":"),
        coalesce(col("amount_usd").cast("string"), lit("")), lit(":"),
        col("page").cast("string"), lit(":"),
        monotonically_increasing_id().cast("string")))),
        lit(9000000000L)))

  /** OSF / Open Society Foundations past grants
    * (CreateOSFAwards.ipynb, [[osfSurrogate]] first): the ':osf:'
    * surrogate mint, '<grantee> (<year>)' display, unconditional
    * 'USD' over the source USD column, year-boundary dates, an
    * unconditional grantee org lead with no country, the
    * page-anchored landing URL. */
  def osf: FunderIngestConfig = {
    val yr = col("year")
    FunderIngestConfig(4320306189L, AwardFieldMap(
      provenance = "osf_grants_past",
      priority = 45,
      mintKey = concat(lit("osf:"), col("surrogate_id").cast("string")),
      funderAwardId = col("surrogate_id").cast("string"),
      displayName = concat(col("grantee_name"), lit(" ("),
        yr.cast("string"), lit(")")),
      amount = col("amount_usd"),
      currency = lit("USD"),
      fundingType = lit("grant"),
      startDate = d(concat(yr.cast("string"), lit("-01-01"))),
      endDate = d(concat(yr.cast("string"), lit("-12-31"))),
      startYear = yr.cast("int"), endYear = yr.cast("int"),
      leadInvestigator = investigator(lit(null).cast("string"),
        lit(null).cast("string"), col("grantee_name"),
        lit(null).cast("string")),
      landingPageUrl = concat(
        lit("https://www.opensocietyfoundations.org/grants/past?page="),
        col("page").cast("string")),
      rowFilter = lit(true)))
  }

  /** PBTF / Pediatric Brain Tumor Foundation
    * (CreatePBTFAwards.ipynb): description column, ungated decimal
    * with unconditional 'USD', Jan-1 date from the year, NULL
    * scheme, PI-only 'United States' lead. */
  def pbtf: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United States")))
    FunderIngestConfig(4320306797L, AwardFieldMap(
      provenance = "pbtf", priority = 324,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("USD"),
      fundingType = lit("grant"),
      startDate = when(sy.isNotNull,
        d(concat(sy.cast("string"), lit("-01-01")))),
      startYear = sy,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Parkinson's UK (CreateParkinsonsUKAwards.ipynb): full dates
    * with the RAW start year and a date-derived end year, ungated
    * decimal with unconditional 'GBP', programme scheme, PI-only
    * 'United Kingdom' lead. */
  def parkinsonsUk: FunderIngestConfig = {
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United Kingdom")))
    FunderIngestConfig(4320320021L, AwardFieldMap(
      provenance = "parkinsons_uk",
      priority = 249,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("GBP"),
      fundingType = lit("grant"),
      funderScheme = col("programme"),
      startDate = sd, endDate = ed,
      startYear = col("start_year").try_cast("int"),
      endYear = year(ed),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  // ---------------------------------------------------------------
  // Round-14 first tranche (laureate prizes): Breakthrough, Japan
  // Prize, Kyoto Prize, International Prize for Biology, Stockholm
  // Water Prize, World Food Prize
  // ---------------------------------------------------------------

  /** Breakthrough Prize (CreateBreakthroughPrizeAwards.ipynb cell 11,
    * ~400 laureate rows): the '<year> <prize title> - <laureate>'
    * display over NULLIF-trimmed norms, the declined-prefix
    * description over the citation, source-apportioned USD amounts
    * (the discontinued Physics Frontiers rows are the only §6.7
    * NULL-amount arm), the prize-title scheme, Jan-1/Dec-31
    * year-boundary dates, an UNCONDITIONAL laureate lead with
    * affiliation name only, and the ':breakthrough:' mint over the
    * lowered synthetic key. */
  def breakthroughPrize: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val title = nzt(col("prize_title"))
    val citation = nzt(col("citation"))
    val declined = col("declined").try_cast("boolean")
    val lead = investigator(nzt(col("laureate_given_name")),
      nzt(col("laureate_family_name")), nzt(col("affiliation")),
      lit(null).cast("string"))
    FunderIngestConfig(4320315036L, AwardFieldMap(
      provenance = "breakthrough_prize",
      priority = 63,
      mintKey = concat(lit("breakthrough:"),
        lower(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(yr.cast("string"), lit(" "), title,
        lit(" - "), nzt(col("laureate_name"))),
      description = when(declined && citation.isNotNull,
          concat(lit("Declined the prize. "), citation))
        .when(declined, lit("Declined the prize."))
        .otherwise(citation),
      amount = col("amount_usd").try_cast("double"),
      currency = nzt(col("currency")),
      fundingType = lit("prize"),
      funderScheme = title,
      startDate = d(concat(yr.cast("string"), lit("-01-01"))),
      endDate = d(concat(yr.cast("string"), lit("-12-31"))),
      startYear = yr, endYear = yr,
      leadInvestigator = lead,
      landingPageUrl = nzt(col("detail_path")),
      rowFilter = col("funder_award_id").isNotNull && yr.isNotNull &&
        nullif(trim(col("prize_title")), lit("")).isNotNull &&
        nullif(trim(col("laureate_name")), lit("")).isNotNull))
  }

  /** Japan Prize (CreateJapanPrizeAwards.ipynb cell 14, ~100
    * laureates): the 'Japan Prize <year> - <field> - <name>' display
    * over the RAW columns (a NULL field nulls the whole display, as
    * the reference's CONCAT does), the achievement description, the
    * source-carried constant 100M-JPY amount, the award-field
    * scheme, year-boundary dates, and an UNCONDITIONAL lead whose
    * nationality is deliberately NOT mapped to affiliation.country. */
  def japanPrize: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val lead = investigator(nullif(col("given_name"), lit("")),
      nullif(col("family_name"), lit("")), nullif(col("affiliation"), lit("")),
      lit(null).cast("string"))
    FunderIngestConfig(4320322286L, AwardFieldMap(
      provenance = "japan_prize",
      priority = 65,
      mintKey = concat(lit("japan-prize:"),
        lower(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Japan Prize "), yr.cast("string"),
        lit(" - "), col("award_field"), lit(" - "),
        col("laureate_name")),
      description = nullif(col("achievement"), lit("")),
      amount = col("source_award_amount").try_cast("double"),
      currency = nullif(col("currency"), lit("")),
      fundingType = lit("prize"),
      funderScheme = nullif(col("award_field"), lit("")),
      startDate = d(concat(yr.cast("string"), lit("-01-01"))),
      endDate = d(concat(yr.cast("string"), lit("-12-31"))),
      startYear = yr, endYear = yr,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull && yr.isNotNull &&
        col("laureate_name").isNotNull))
  }

  /** Kyoto Prize (CreateKyotoPrizeAwards.ipynb cell 15, ~130
    * laureates): the 'Kyoto Prize <year> - <field> - <name>' display,
    * the citation→achievement-digest→profile→achievement-title
    * description cascade, post-2018 apportioned JPY (pre-2018 NULL by
    * the source script), the prize-field-else-category scheme, and
    * the Japan-Prize lead shape (the one organizational laureate —
    * the Nobel Foundation — rides in family_name, as the source
    * publishes it). */
  def kyotoPrize: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val lead = investigator(nullif(col("given_name"), lit("")),
      nullif(col("family_name"), lit("")), nullif(col("affiliation"), lit("")),
      lit(null).cast("string"))
    FunderIngestConfig(4320322210L, AwardFieldMap(
      provenance = "kyoto_prize",
      priority = 70,
      mintKey = concat(lit("kyoto-prize:"),
        lower(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Kyoto Prize "), yr.cast("string"),
        lit(" - "), col("prize_field"), lit(" - "),
        col("laureate_name")),
      description = coalesce(nullif(col("citation"), lit("")),
        nullif(col("achievement_digest"), lit("")),
        nullif(col("profile_description"), lit("")),
        nullif(col("achievement_title"), lit(""))),
      amount = col("source_award_amount").try_cast("double"),
      currency = nullif(col("currency"), lit("")),
      fundingType = lit("prize"),
      funderScheme = coalesce(nullif(col("prize_field"), lit("")),
        nullif(col("prize_category"), lit(""))),
      startDate = d(concat(yr.cast("string"), lit("-01-01"))),
      endDate = d(concat(yr.cast("string"), lit("-12-31"))),
      startYear = yr, endYear = yr,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull && yr.isNotNull &&
        col("laureate_name").isNotNull))
  }

  /** International Prize for Biology
    * (CreateInternationalBiologyPrizeAwards.ipynb cell 16, 41
    * recipients 1985-2025): a JSPS prize ingest operationally
    * separate from the KAKEN grants slice — the LOWERED-TRIMMED
    * native id is both the mint key (NO label prefix) and the landed
    * award id, constant 10M-JPY from the official rule page, the
    * scheme defaulting to 'International Prize for Biology', full
    * source dates with year(date)-else-source_year coverage, and an
    * UNCONDITIONAL lead with role_start = start. */
  def internationalBiologyPrize: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val srcYr = col("source_year").try_cast("int")
    val lead = investigator(nzt(col("given_name")), nzt(col("family_name")),
      nzt(col("affiliation_raw")), lit(null).cast("string"), roleStart = sd)
    FunderIngestConfig(4320334764L, AwardFieldMap(
      provenance = "international_biology_prize", priority = 127,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = nzt(col("description")),
      amount = col("amount").try_cast("double"),
      currency = nzt(col("currency")),
      fundingType = lit("prize"),
      funderScheme = coalesce(nzt(col("funder_scheme")),
        lit("International Prize for Biology")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd), srcYr),
      endYear = coalesce(year(ed), srcYr),
      leadInvestigator = lead,
      landingPageUrl = nzt(col("landing_page_url")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** Stockholm Water Prize (CreateStockholmWaterPrizeAwards.ipynb
    * cell 12, 36 laureates 1991-2026): the Blue-Planet-style
    * recipient_kind person-vs-organization lead branch — individuals
    * carry country but NO affiliation name, organizations carry the
    * org's own name — role_start = start on both arms, the §6.7
    * NULL-amount waiver (the foundation publishes no monetary
    * value), the literal single-programme scheme, and
    * substring-derived years. The raw `declined` passthrough is NOT
    * part of the landed 24-column slice. */
  def stockholmWaterPrize: FunderIngestConfig = {
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val lead = when(col("recipient_kind") === "individual" &&
        col("name").isNotNull,
      investigator(col("given_name"), col("family_name"),
        lit(null).cast("string"), col("country"), roleStart = sd))
      .when(col("recipient_kind") === "organization" &&
        col("name").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("name"), col("country"), roleStart = sd))
    FunderIngestConfig(4320320937L, AwardFieldMap(
      provenance = "stockholm_water_prize",
      priority = 100,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("prize"),
      funderScheme = lit("Stockholm Water Prize"),
      startDate = sd, endDate = ed,
      startYear = substring(col("start_date"), 1, 4).try_cast("int"),
      endYear = substring(col("end_date"), 1, 4).try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("name").isNotNull))
  }

  /** World Food Prize (CreateWorldFoodPrizeAwards.ipynb cell 12, 39
    * laureates 1987-2026): the Stockholm twin minus the
    * recipient_kind branch — a PERSON-ONLY lead (NULL-or-empty name
    * → NULL lead) with NULL affiliation AND country (the foundation
    * publishes no institutional field), the constant source-carried
    * USD 500K (§6.7 NOT waived), the literal scheme, and the same
    * substring years / unprefixed lowered mint. */
  def worldFoodPrize: FunderIngestConfig = {
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val lead = when(col("name").isNull || col("name") === "",
        nullInvestigator)
      .otherwise(investigator(col("given_name"), col("family_name"),
        lit(null).cast("string"), lit(null).cast("string"), roleStart = sd))
    FunderIngestConfig(4320308859L, AwardFieldMap(
      provenance = "world_food_prize",
      priority = 101,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("prize"),
      funderScheme = lit("World Food Prize"),
      startDate = sd, endDate = ed,
      startYear = substring(col("start_date"), 1, 4).try_cast("int"),
      endYear = substring(col("end_date"), 1, 4).try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("name").isNotNull))
  }

  // ---------------------------------------------------------------
  // Round-14 second tranche: Letten Prize, Royal Society Medals,
  // TWAS, Ragnar Söderberg, SSF, Shanghai STCSM
  // ---------------------------------------------------------------

  /** Letten Prize (CreateLettenPrizeAwards.ipynb cell 15, 4
    * laureates): the LOWERED-TRIMMED native id as mint AND landed
    * award id, the DERIVED currency — 'NOK' only when the amount
    * parses (not source-carried), the award date on BOTH ends, the
    * literal scheme, and an UNCONDITIONAL lead with role_start =
    * award date. */
  def lettenPrize: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val ad = d(col("award_date"))
    val lead = investigator(nzt(col("given_name")), nzt(col("family_name")),
      nzt(col("affiliation")), lit(null).cast("string"), roleStart = ad)
    FunderIngestConfig(4320328141L, AwardFieldMap(
      provenance = "letten_prize",
      priority = 176,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = amt,
      currency = when(amt.isNotNull, lit("NOK")),
      fundingType = lit("prize"),
      funderScheme = lit("Letten Prize"),
      startDate = ad, endDate = ad,
      startYear = col("award_year").try_cast("int"),
      endYear = col("award_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = nzt(col("landing_page_url")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= "" &&
        col("laureate_name").isNotNull &&
        trim(col("laureate_name")) =!= ""))
  }

  /** Royal Society Medals (CreateRoyalSocietyMedalsAwards.ipynb cell
    * 15, Copley + Royal Medals winners): the '<prize> <year> -
    * <name>' display, the citation-else-page-summary description,
    * the prize-pattern NULL-amount waiver (source_award_amount rides
    * the normalize but the pages publish none), the prize-name
    * scheme, year-boundary dates, and a lead with NO affiliation at
    * all (the Society's role strings are honorifics, not
    * institutions — they stay in the raw table). */
  def royalSocietyMedals: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val lead = investigator(nullif(col("given_name"), lit("")),
      nullif(col("family_name"), lit("")), lit(null).cast("string"),
      lit(null).cast("string"))
    FunderIngestConfig(4320320006L, AwardFieldMap(
      provenance = "royal_society_medals",
      priority = 71,
      mintKey = concat(lit("royal-society-medals:"),
        lower(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(col("prize_name"), lit(" "),
        yr.cast("string"), lit(" - "), col("laureate_name")),
      description = coalesce(nullif(col("citation"), lit("")),
        nullif(col("prize_page_summary"), lit(""))),
      amount = col("source_award_amount").try_cast("double"),
      currency = nullif(col("currency"), lit("")),
      fundingType = lit("prize"),
      funderScheme = nullif(col("prize_name"), lit("")),
      startDate = d(concat(yr.cast("string"), lit("-01-01"))),
      endDate = d(concat(yr.cast("string"), lit("-12-31"))),
      startYear = yr, endYear = yr,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull && yr.isNotNull &&
        col("laureate_name").isNotNull))
  }

  /** TWAS Awards (CreateTWASAwards.ipynb cell 14): the
    * '<year> <award name> - <laureate>' display over NULLIF-trimmed
    * norms, the citation-else-description cascade, per-laureate
    * shared-prize USD from 2012-onward announcement pages (older
    * rows NULL under the prize waiver), a lead carrying BOTH the
    * affiliation-or-context name and the country-or-nationality, and
    * a row screen that also requires the award FIELD. */
  def twas: FunderIngestConfig = {
    val yr = col("award_year").try_cast("int")
    val lead = investigator(nzt(col("laureate_given_name")),
      nzt(col("laureate_family_name")),
      nzt(col("laureate_affiliation_or_context")),
      nzt(col("laureate_country_or_nationality")))
    FunderIngestConfig(4320321078L, AwardFieldMap(
      provenance = "twas_awards",
      priority = 72,
      mintKey = concat(lit("twas-awards:"),
        lower(col("funder_award_id"))),
      funderAwardId = col("funder_award_id"),
      displayName = concat(yr.cast("string"), lit(" "),
        nzt(col("award_name")), lit(" - "),
        nzt(col("laureate_name"))),
      description = coalesce(nzt(col("citation")),
        nzt(col("description"))),
      amount = col("amount_per_laureate").try_cast("double"),
      currency = nzt(col("currency")),
      fundingType = lit("prize"),
      funderScheme = nzt(col("award_name")),
      startDate = d(concat(yr.cast("string"), lit("-01-01"))),
      endDate = d(concat(yr.cast("string"), lit("-12-31"))),
      startYear = yr, endYear = yr,
      leadInvestigator = lead,
      landingPageUrl = nzt(col("landing_page_url")),
      rowFilter = col("funder_award_id").isNotNull && yr.isNotNull &&
        nullif(trim(col("award_name")), lit("")).isNotNull &&
        nullif(trim(col("award_field")), lit("")).isNotNull &&
        nullif(trim(col("laureate_name")), lit("")).isNotNull))
  }

  /** Ragnar Söderberg Foundation (CreateRagnarSoderbergAwards.ipynb
    * cell 7, 97 grantee profiles): Swedish-language titles as-is,
    * DECIMAL(18,2) SEK, the Jan-1 start-year date with NO end
    * coverage, a PI-family-gated 'Sweden' lead, NULL works_api_url,
    * and NO row screen. */
  def ragnarSoderberg: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("Sweden")))
    FunderIngestConfig(4320309816L, AwardFieldMap(
      provenance = "ragnar_soderberg",
      priority = 326,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("SEK"),
      fundingType = lit("grant"),
      funderScheme = col("funder_scheme"),
      startDate = when(sy.isNotNull,
        d(concat(sy.cast("string"), lit("-01-01")))),
      startYear = sy,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** SSF / Swedish Foundation for Strategic Research
    * (CreateSSFAwards.ipynb cell 7): the research-AREA-as-description
    * quirk, DECIMAL(18,2) SEK, 'research' (not 'grant') funding
    * type, full source dates with the 1980-2030-banded start year
    * against an UNBANDED date-derived end year, NO investigator
    * slots at all, NULL landing AND works_api_url, no row screen. */
  def ssf: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val ed = d(col("end_date"))
    FunderIngestConfig(4320320940L, AwardFieldMap(
      provenance = "ssf", priority = 267,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("research_area"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("SEK"),
      fundingType = lit("research"),
      funderScheme = col("programme"),
      startDate = d(col("start_date")), endDate = ed,
      startYear = when(sy.between(1980, 2030), sy),
      endYear = year(ed),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Shanghai STCSM basic-research rosters
    * (CreateShanghaiSTCSMAwards.ipynb cell 9) — the non-NSF STCSM
    * programmes, distinct from the shanghaiNsf roster slice: the
    * id-else-(title|institution) synthetic mint, the Chinese
    * programme LIKE cascade (青年/博士/启明星/扬帆 fellowships,
    * 重大/重点/联合基金 research), §6.7 NULL amounts, Jan-1
    * start-year dates, and the NSFC-precedent full-name-in-family
    * lead gated on PI OR institution presence with 'China'. */
  def shanghaiStcsm: FunderIngestConfig = {
    val mint = coalesce(
      nullif(lower(trim(col("funder_award_id"))), lit("")),
      concat(lower(trim(col("display_name"))), lit("|"),
        lower(trim(coalesce(col("institution"), lit(""))))))
    val sy = col("start_year").try_cast("int")
    val fundingType = likeCascade(col("funder_scheme"), Seq(
      "杰出青年" -> "fellowship", "优秀青年" -> "fellowship",
      "青年" -> "fellowship", "博士" -> "fellowship",
      "启明星" -> "fellowship", "扬帆" -> "fellowship",
      "重大" -> "research", "重点" -> "research",
      "联合基金" -> "research"), "grant")
    val lead = when(
      (col("lead_family_name").isNotNull &&
        trim(col("lead_family_name")) =!= "") ||
      (col("institution").isNotNull && trim(col("institution")) =!= ""),
      investigator(lit(null).cast("string"),
        nullif(trim(col("lead_family_name")), lit("")),
        nullif(trim(col("institution")), lit("")), lit("China")))
    FunderIngestConfig(4320321885L, AwardFieldMap(
      provenance = "shanghai_stcsm",
      priority = 449,
      mintKey = mint,
      funderAwardId = nullif(trim(col("funder_award_id")), lit("")),
      displayName = col("display_name"),
      fundingType = fundingType,
      funderScheme = nullif(trim(col("funder_scheme")), lit("")),
      startDate = when(sy.isNotNull,
        d(concat(col("start_year"), lit("-01-01")))),
      startYear = sy,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  // ---------------------------------------------------------------
  // Round-14 third tranche: the Pew pair, Prostate Cancer UK, RNID,
  // Radcliffe, RZS NSW
  // ---------------------------------------------------------------

  /** Pew Biomedical Scholars via the scraped JSON list
    * (CreatePewBiomedAwards.ipynb cell 7, ~819 scholars): the thin
    * scrape card — NULL DECIMAL amount (§6.7 career-fellowship
    * waiver), 'fellowship', a PI-family-gated 'United States' lead,
    * Jan-1 start-year date with NO end coverage, NULL works_api_url,
    * no row screen. */
  def pewBiomed: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United States")))
    FunderIngestConfig(4320306148L, AwardFieldMap(
      provenance = "pew_biomed",
      priority = 328,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("fellowship"),
      funderScheme = col("funder_scheme"),
      startDate = when(sy.isNotNull,
        d(concat(sy.cast("string"), lit("-01-01")))),
      startYear = sy,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Pew Biomedical Scholars via the official Sitecore directory
    * (CreatePewBiomedicalScholarsAwards.ipynb cell 12) — a SECOND
    * provenance slice on the same Pew funder: the four-year award
    * window (end_year = award year + 3 against source-carried
    * dates), the literal scheme, a full-name-gated lead with
    * role_start = start and NO country, and a profile-URL landing. */
  def pewBiomedicalScholars: FunderIngestConfig = {
    val sd = d(col("start_date"))
    val yr = col("award_year").try_cast("int")
    val lead = when(col("full_name").isNull || col("full_name") === "",
        nullInvestigator)
      .otherwise(investigator(col("given_name"), col("family_name"),
        col("institution"), lit(null).cast("string"), roleStart = sd))
    FunderIngestConfig(4320306148L, AwardFieldMap(
      provenance = "pew_biomedical_scholars_directory", priority = 97,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      fundingType = lit("fellowship"),
      funderScheme = lit("Pew Biomedical Scholars"),
      startDate = sd, endDate = d(col("end_date")),
      startYear = yr, endYear = yr + lit(3),
      leadInvestigator = lead,
      landingPageUrl = col("profile_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("full_name").isNotNull && col("award_year").isNotNull))
  }

  /** Prostate Cancer UK (CreateProstateCancerUKAwards.ipynb cell 7):
    * DECIMAL GBP, NULL description/scheme, the 1990-2030-banded
    * start date AND year against a 1990-2035-banded end year
    * (asymmetric bands), a PI-family-gated 'United Kingdom' lead,
    * NULL works_api_url, no row screen. */
  def prostateCancerUk: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val ey = col("end_year").try_cast("int")
    val inBand = sy.between(1990, 2030)
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United Kingdom")))
    FunderIngestConfig(4320320292L, AwardFieldMap(
      provenance = "prostate_cancer_uk",
      priority = 275,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("GBP"),
      fundingType = lit("grant"),
      startDate = when(inBand,
        d(concat(col("start_year"), lit("-01-01")))),
      startYear = when(inBand, sy),
      endYear = when(ey.between(1990, 2035), ey),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** RNID / Action on Hearing Loss (CreateRNIDAwards.ipynb cell 7,
    * 81 projects): the ROR-bearing record of the registry's 3-way
    * RNID duplicate set, theme-as-scheme, §6.7 NULL DECIMAL amounts,
    * year_awarded as the ONLY temporal coverage (no dates at all),
    * and a PI-family-gated lead whose country stays NULL because the
    * grantee institutions are international. */
  def rnid: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit(null).cast("string")))
    FunderIngestConfig(4320320250L, AwardFieldMap(
      provenance = "rnid", priority = 315,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = lit(null).cast("decimal(18,2)"),
      fundingType = lit("grant"),
      funderScheme = col("theme"),
      startYear = col("year_awarded").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Radcliffe Fellowship (CreateRadcliffeAwards.ipynb cell 12,
    * ~50/year): the 'Radcliffe Fellowship - <name> (<year>)' display
    * whose year suffix collapses to '' (not NULL) when the cohort
    * year is missing, §6.7 fellowship waiver, start_year as the only
    * coverage, an either-name-gated lead with an all-NULL
    * affiliation, and an id-only row screen. */
  def radcliffe: FunderIngestConfig = {
    val lead = when(col("family_name").isNotNull ||
        col("given_name").isNotNull,
      investigator(col("given_name"), col("family_name"),
        lit(null).cast("string"), lit(null).cast("string")))
    FunderIngestConfig(4320332388L, AwardFieldMap(
      provenance = "radcliffe_fellowship",
      priority = 165,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = concat(lit("Radcliffe Fellowship - "),
        col("fellow_name"),
        when(col("start_year").isNotNull,
          concat(lit(" ("), col("start_year"), lit(")")))
          .otherwise(lit(""))),
      fundingType = lit("fellowship"),
      startYear = col("start_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull))
  }

  /** RZS NSW research grants
    * (CreateRZSNSWResearchGrantsAwards.ipynb cell 18, 82 Paddy
    * Pallin + Ethel Mary Read rows): source-carried funding_type and
    * scheme, §6.7 NULL amounts (the society publishes caps, not
    * per-recipient values), the LOWERED-TRIMMED native id landed as
    * the award id, Jan-1/Dec-31 year-boundary coverage that the
    * future-year gate (award_year > current+1) NULLs on dates,
    * years, AND the lead's role_start — while the UNCONDITIONAL lead
    * itself survives — plus a source DOI passthrough. */
  def rzsnsw(currentYear: Int): FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val yr = col("award_year").try_cast("int")
    // CASE-faithful future gate: a NULL year falls to the ELSE arm
    // (where the derived value is NULL anyway), never the NULL trap
    // of `when(!future, …)` three-valued logic.
    val future = yr > currentYear + 1
    val sd = when(future, lit(null).cast("date"))
      .otherwise(d(concat(col("award_year"), lit("-01-01"))))
    val ed = when(future, lit(null).cast("date"))
      .otherwise(d(concat(col("award_year"), lit("-12-31"))))
    val lead = investigator(nzt(col("given_name")), nzt(col("family_name")),
      nzt(col("affiliation")), nzt(col("country")), roleStart = sd)
    FunderIngestConfig(4320331891L, AwardFieldMap(
      provenance = "rzsnsw_research_grants",
      priority = 182,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = col("amount").try_cast("double"),
      currency = nzt(col("currency")),
      fundingType = nzt(col("funding_type")),
      funderScheme = nzt(col("funder_scheme")),
      startDate = sd, endDate = ed,
      startYear = when(future, lit(null).cast("int")).otherwise(yr),
      endYear = when(future, lit(null).cast("int")).otherwise(yr),
      leadInvestigator = lead,
      landingPageUrl = nzt(col("landing_page_url")),
      doi = nzt(col("doi")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= "" &&
        col("recipient_name").isNotNull &&
        trim(col("recipient_name")) =!= ""))
  }

  // ---------------------------------------------------------------
  // Round-14 fourth tranche (medical-charity cards): Shriners,
  // Sparks, Stroke Association, Tenovus, Tourettes Action, Versus
  // Arthritis
  // ---------------------------------------------------------------

  /** Shriners Hospitals for Children (CreateShrinersAwards.ipynb
    * cell 7, ~93 grants): MM/dd/yyyy source dates with date-derived
    * years, a SOURCE-carried ORCID on the lead (rare among the
    * charity cards), the ILIKE hospital-site country inference
    * (Canada/Mexico/else US), the program scheme, DECIMAL USD. */
  def shriners: FunderIngestConfig = {
    def md(c: Column) = to_date(try_to_timestamp(c, lit("MM/dd/yyyy")))
    val sd = md(col("start_date_raw")); val ed = md(col("end_date_raw"))
    val country = when(col("institution").ilike("%Canada%"), "Canada")
      .when(col("institution").ilike("%Mexico%"), "Mexico")
      .otherwise("United States")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        country, orcid = col("orcid")))
    FunderIngestConfig(4320313002L, AwardFieldMap(
      provenance = "shriners", priority = 287,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("USD"),
      fundingType = lit("grant"),
      funderScheme = col("program"),
      startDate = sd, endDate = ed,
      startYear = year(sd), endYear = year(ed),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Sparks / GOSH Charity national calls (CreateSparksAwards.ipynb
    * cell 7, 66 grants): the call-as-scheme quirk, GBP, year_awarded
    * as the only coverage, a PI-family-gated 'United Kingdom'
    * lead. */
  def sparks: FunderIngestConfig = {
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United Kingdom")))
    FunderIngestConfig(4320320345L, AwardFieldMap(
      provenance = "sparks", priority = 291,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("GBP"),
      fundingType = lit("grant"),
      funderScheme = col("call"),
      startYear = col("year_awarded").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Stroke Association UK (CreateStrokeAssociationAwards.ipynb
    * cell 7, ~127 projects): the 'N/A'-literal id NULLIF with the
    * page-slug fallback (feeding mint AND landed id), the
    * zero-amount→NULL screen, weekday-prefix-stripped 'd MMMM yyyy'
    * dates, year_awarded start year against a date-derived end year,
    * research-area scheme, and 'N/A' NULLIFs across the lead. */
  def strokeAssociation: FunderIngestConfig = {
    def dmy(c: Column) = to_date(try_to_timestamp(
      regexp_replace(c, "^[A-Za-z]+ ", ""), lit("d MMMM yyyy")))
    val nid = coalesce(nullif(col("funder_award_id"), lit("N/A")),
      col("slug"))
    val amt = col("amount").try_cast("decimal(18,2)")
    val ed = dmy(col("end_date_raw"))
    val lead = when(nullif(col("pi_family"), lit("N/A")).isNotNull,
      investigator(nullif(col("pi_given"), lit("N/A")),
        nullif(col("pi_family"), lit("N/A")),
        nullif(col("institution"), lit("N/A")), lit("United Kingdom")))
    FunderIngestConfig(4320320068L, AwardFieldMap(
      provenance = "stroke_association",
      priority = 239,
      mintKey = lower(nid),
      funderAwardId = nid,
      displayName = col("title"),
      description = col("description"),
      amount = when(amt === 0, lit(null).cast("decimal(18,2)"))
        .otherwise(amt),
      currency = lit("GBP"),
      fundingType = lit("grant"),
      funderScheme = col("research_area"),
      startDate = dmy(col("start_date_raw")), endDate = ed,
      startYear = col("year_awarded").try_cast("int"),
      endYear = year(ed),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Tenovus Cancer Care (CreateTenovusAwards.ipynb cell 7): GBP,
    * programme scheme, a full start DATE but banded START/END years
    * (1980-2030 / 1980-2035) with NO end date, PI-gated UK lead. */
  def tenovus: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val ey = col("end_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United Kingdom")))
    FunderIngestConfig(4320320264L, AwardFieldMap(
      provenance = "tenovus", priority = 265,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("GBP"),
      fundingType = lit("grant"),
      funderScheme = col("programme"),
      startDate = d(col("start_date")),
      startYear = when(sy.between(1980, 2030), sy),
      endYear = when(ey.between(1980, 2035), ey),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Tourettes Action (CreateTourettesAwards.ipynb cell 7):
    * 'research' (not 'grant') funding type with a NULL scheme, GBP,
    * the Jan-1 start-year date, PI-gated UK lead. */
  def tourettes: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United Kingdom")))
    FunderIngestConfig(4320312907L, AwardFieldMap(
      provenance = "tourettes", priority = 336,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("GBP"),
      fundingType = lit("research"),
      startDate = when(sy.isNotNull,
        d(concat(sy.cast("string"), lit("-01-01")))),
      startYear = sy,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Versus Arthritis (CreateVersusArthritisAwards.ipynb cell 7, 61
    * projects): 'd MMMM yyyy' start dates (the 11 'TBC'-id rows ride
    * slug-fallback ids minted UPSTREAM in the raw, so the config
    * sees a single id column), the date-derived start year with NO
    * end coverage, scheme passthrough, PI-gated UK lead. */
  def versusArthritis: FunderIngestConfig = {
    val sd = to_date(try_to_timestamp(col("start_date_raw"),
      lit("d MMMM yyyy")))
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("United Kingdom")))
    FunderIngestConfig(4320327444L, AwardFieldMap(
      provenance = "versus_arthritis",
      priority = 313,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("GBP"),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startDate = sd,
      startYear = year(sd),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  // ---------------------------------------------------------------
  // Round-14 fifth tranche: the CAPES pair, Lloyd's Register,
  // PCAARRD, POGO, Research NB
  // ---------------------------------------------------------------

  /** CAPES international cooperation
    * (CreateCAPESCooperationAwards.ipynb cell 17): the
    * Intl-Biology-style lowered-trimmed native id, the
    * parse-derived 'BRL' currency (Letten's NOK pattern), 'research'
    * type with the 'International cooperation' scheme default,
    * year(date)-else-source-year coverage on BOTH ends, and a
    * beneficiary-gated lead with the 'BR' ISO country. */
  def capesCooperation: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val amt = col("amount").try_cast("double")
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val lead = when(col("beneficiary_name").isNull ||
        trim(col("beneficiary_name")) === "", nullInvestigator)
      .otherwise(investigator(nzt(col("beneficiary_given_name")),
        nzt(col("beneficiary_family_name")), nzt(col("institution_name")),
        lit("BR"), roleStart = sd))
    FunderIngestConfig(4320321091L, AwardFieldMap(
      provenance = "capes_cooperacao_internacional", priority = 144,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = when(col("description").isNull ||
        trim(col("description")) === "", lit(null).cast("string"))
        .otherwise(trim(col("description"))),
      amount = amt,
      currency = when(amt.isNotNull, lit("BRL")),
      fundingType = lit("research"),
      funderScheme = coalesce(nzt(col("funder_scheme")),
        lit("International cooperation")),
      startDate = sd, endDate = ed,
      startYear = coalesce(year(sd),
        col("source_year").try_cast("int")),
      endYear = coalesce(year(ed),
        col("source_end_year").try_cast("int")),
      leadInvestigator = lead,
      landingPageUrl = nzt(col("landing_page_url")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** CAPES DRI scholarships (CreateCAPESDRIAwards.ipynb cell 8,
    * ~35.5K citable process numbers) — the #690 citable-ref
    * complement to the cooperation slice on the SAME funder: the
    * title-else-'CAPES DRI grant <id>' display, >0-gated DECIMAL
    * amount AND source multi-currency, date-derived years, and the
    * two-tier PI-else-institution 'Brazil' lead. */
  def capesDri: FunderIngestConfig = {
    val amt = col("amount").try_cast("decimal(18,2)")
    val sd = d(col("start_date_raw")); val ed = d(col("end_date_raw"))
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("Brazil")))
      .when(col("institution").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("institution"), lit("Brazil")))
    FunderIngestConfig(4320321091L, AwardFieldMap(
      provenance = "capes_dri", priority = 455,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(nullif(trim(col("title")), lit("")),
        concat(lit("CAPES DRI grant "), col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, col("currency")),
      fundingType = lit("grant"),
      funderScheme = col("scheme"),
      startDate = sd, endDate = ed,
      startYear = year(sd), endYear = year(ed),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull,
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Lloyd's Register Foundation via 360Giving
    * (CreateLloydsRegisterAwards.ipynb cell 12): the org-level grant
    * card — title-else-'Lloyd's Register Foundation grant <id>'
    * display, >0-gated GBP on amount AND currency, real day-level
    * planned dates with source-carried years, a recipient-ORG-only
    * lead with the source-authoritative ISO country, and NULL
    * landing (360Giving has no per-grant page). */
  def lloydsRegister: FunderIngestConfig = {
    val amt = col("amount").try_cast("double")
    val lead = when(col("recipient_org").isNotNull,
      investigator(lit(null).cast("string"), lit(null).cast("string"),
        col("recipient_org"), col("recipient_country_iso")))
    FunderIngestConfig(4320310833L, AwardFieldMap(
      provenance = "lloyds_register_foundation",
      priority = 157,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = coalesce(col("title"),
        concat(lit("Lloyd's Register Foundation grant "),
          col("funder_award_id"))),
      description = col("description"),
      amount = when(amt > 0, amt),
      currency = when(amt > 0, lit("GBP")),
      fundingType = lit("grant"),
      startDate = col("start_date").try_cast("date"),
      endDate = col("end_date").try_cast("date"),
      startYear = col("start_year").try_cast("int"),
      endYear = col("end_year").try_cast("int"),
      leadInvestigator = lead,
      rowFilter = col("funder_award_id").isNotNull))
  }

  /** The PCAARRD registry-gap inline funder row
    * (CreatePCAARRDAwards.ipynb cell 18's literal funder struct —
    * F4320336119 has no ROR/DOI in the registry the notebook
    * trusts, so the name is INLINED). */
  def pcaarrdFunderLookup(spark: SparkSession): DataFrame =
    FunderIngest.inlineFunders(spark, Seq(
      (4320336119L, "Philippine Council for Agriculture, Aquatic " +
        "and Natural Resources Research and Development", None,
        null)))

  /** DOST-PCAARRD GIA projects (CreatePCAARRDAwards.ipynb cell 18,
    * ~3.1K deduplicated Transparency Seal rows): the RAW-carried
    * funder_id resolved per row against [[pcaarrdFunderLookup]] (the
    * only config whose funder id rides the source), PHP total
    * project cost, program_title scheme, date-derived years, an
    * implementing-AGENCY-only lead ('PH') with role_start = start,
    * and the PDF landing. The raw `declined` passthrough is not
    * landed. */
  def pcaarrd: ResolvedFunderIngestConfig = {
    val sd = d(col("start_date")); val ed = d(col("end_date"))
    val agency = nullif(trim(col("source_implementing_agency")),
      lit(""))
    val lead = when(agency.isNull, nullInvestigator)
      .otherwise(investigator(lit(null).cast("string"),
        lit(null).cast("string"), agency, lit("PH"), roleStart = sd))
    val resolved = col("funder_id").try_cast("bigint")
    ResolvedFunderIngestConfig(resolved, AwardFieldMap(
      provenance = "pcaarrd_gia_projects", priority = 160,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("display_name"),
      description = col("description"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = lit("grant"),
      funderScheme = col("program_title"),
      startDate = sd, endDate = ed,
      startYear = year(sd), endYear = year(ed),
      leadInvestigator = lead,
      landingPageUrl = col("source_pdf_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("display_name").isNotNull))
  }

  /** POGO / Pediatric Oncology Group of Ontario
    * (CreatePOGOAwards.ipynb cell 7): CAD, NULL scheme, Jan-1
    * start-year date, and a PI-gated 'Canada' lead with NO
    * institution name at all (the source publishes none). */
  def pogo: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), lit(null).cast("string"),
        lit("Canada")))
    FunderIngestConfig(4320319937L, AwardFieldMap(
      provenance = "pogo", priority = 341,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      description = col("description"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("CAD"),
      fundingType = lit("grant"),
      startDate = when(sy.isNotNull,
        d(concat(sy.cast("string"), lit("-01-01")))),
      startYear = sy,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  /** Research NB / New Brunswick Health Research Foundation
    * (CreateResearchNBAwards.ipynb cell 7): the POGO twin with a
    * source scheme, an institution-bearing 'Canada' lead, and NULL
    * description. */
  def researchNb: FunderIngestConfig = {
    val sy = col("start_year").try_cast("int")
    val lead = when(col("pi_family").isNotNull,
      investigator(col("pi_given"), col("pi_family"), col("institution"),
        lit("Canada")))
    FunderIngestConfig(4320314075L, AwardFieldMap(
      provenance = "researchnb", priority = 340,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("decimal(18,2)"),
      currency = lit("CAD"),
      fundingType = lit("grant"),
      funderScheme = col("funder_scheme"),
      startDate = when(sy.isNotNull,
        d(concat(sy.cast("string"), lit("-01-01")))),
      startYear = sy,
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = lit(true),
      worksApiUrl = Some(lit(null).cast("string"))))
  }

  // ---------------------------------------------------------------
  // Round-14 sixth tranche (closing the one-off inventory): UGC
  // Bangladesh ICSETEP, BHF
  // ---------------------------------------------------------------

  /** UGC Bangladesh ICSETEP R&D Round-1 sub-projects
    * (CreateUGCBangladeshICSETEPAwards.ipynb cell 16, 20 rows):
    * lowered-trimmed native id as mint and landed id, §6.7 NULL
    * amounts (the official PDF publishes none), the
    * type→'research' and scheme→area→literal-Round-1 cascades,
    * source_year-only coverage, and an UNCONDITIONAL 'BD' lead. */
  def ugcBdIcsetep: FunderIngestConfig = {
    val nid = lower(trim(col("funder_award_id")))
    val lead = investigator(nzt(col("pi_given_name")),
      nzt(col("pi_family_name")), nzt(col("pi_affiliation")), lit("BD"))
    FunderIngestConfig(4320316035L, AwardFieldMap(
      provenance = "ugc_bd_icsetep_rdg",
      priority = 158,
      mintKey = nid,
      funderAwardId = nid,
      displayName = trim(col("display_name")),
      description = nzt(col("description")),
      fundingType = coalesce(nzt(col("funding_type")),
        lit("research")),
      funderScheme = coalesce(nzt(col("funder_scheme")),
        nzt(col("area_label")),
        lit("ICSETEP Research and Development Grant - Round 1")),
      startYear = col("source_year").try_cast("int"),
      leadInvestigator = lead,
      landingPageUrl = nzt(col("landing_page_url")),
      rowFilter = col("funder_award_id").isNotNull &&
        trim(col("funder_award_id")) =!= "" &&
        col("display_name").isNotNull &&
        trim(col("display_name")) =!= ""))
  }

  /** British Heart Foundation annual-report archive
    * (CreateBHFAwards.ipynb cell 12, ~20 FY PDFs back to 2004/05 —
    * the pipeline's first multi-era PDF-archive ingest; the
    * layout-drift parsing lives in the source script, so the
    * transform is a plain card): source-carried GBP/type/scheme, NO
    * dates at all (the reports publish only the financial year), the
    * FY start year with end_year = start + CEIL(duration_months/12)
    * when both parse, an initials-only family-gated lead whose 'GB'
    * country NULLs on International-Award schemes (ILIKE), NULL
    * description, and the id+title row screen. */
  def bhf: FunderIngestConfig = {
    val sy = col("report_year_start").try_cast("int")
    val durYears = ceil(col("duration_months").try_cast("double")
      / lit(12.0)).cast("int")
    val country = when(col("funder_scheme").ilike("%International%"),
      lit(null).cast("string")).otherwise(lit("GB"))
    val lead = when(col("lead_family_name").isNull ||
        col("lead_family_name") === "", nullInvestigator)
      .otherwise(investigator(col("lead_given_name"), col("lead_family_name"),
        col("institution"), country))
    FunderIngestConfig(4320319992L, AwardFieldMap(
      provenance = "bhf_annual_reports",
      priority = 395,
      mintKey = lower(col("funder_award_id")),
      funderAwardId = col("funder_award_id"),
      displayName = col("title"),
      amount = col("amount").try_cast("double"),
      currency = col("currency"),
      fundingType = col("funding_type"),
      funderScheme = col("funder_scheme"),
      startYear = sy,
      endYear = when(sy.isNotNull && durYears.isNotNull, sy + durYears),
      leadInvestigator = lead,
      landingPageUrl = col("landing_page_url"),
      rowFilter = col("funder_award_id").isNotNull &&
        col("title").isNotNull))
  }
}
