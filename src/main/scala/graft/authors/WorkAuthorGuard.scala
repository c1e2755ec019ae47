package graft.authors

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.MergeInto

/** The UpdateWorkAuthors pipeline (reference: notebooks/end2end/
  * UpdateWorkAuthors.ipynb): refresh work_authors seats from the works
  * base while GUARDING author bindings against cross-person name
  * transitions on merged/reparsed works.
  *
  *  - [[stringDrift]] (cell 7): works whose base slot affiliation
  *    strings are missing from work_authors — admitted to the batch
  *    regardless of the updated_date watermark (oxjob #592).
  *  - [[updateBatch]] (cell 9): the per-seat batch — posexploded
  *    authorships, DISTINCT affiliation strings collected to structs.
  *  - [[guardBatch]] (cell 11): OBSERVATION-ONLY verdicts for every
  *    seat whose raw name changed. Three-state judgment
  *    (ABSTAIN_CJK first — the frozen parser's false-positive class;
  *    ABSTAIN_UNPARSED when either side has no parse — the raw-equality
  *    fallback is unreachable since admission requires differing raws;
  *    then [[namesCompatibleV2]]); invalidation needs ≥2 incompatible
  *    seats on the work and no curated claim hold; the hypothetical
  *    rebind cascade re-homes freed author ids (donor profile must be
  *    name-compatible with the donor's seat name) via exact-name
  *    realign → unique-compat realign → legacy exact → legacy parsed,
  *    then drops hypotheses that are occupied, curator-removed, or
  *    multi-received.
  *  - [[applyBatch]] (cell 13): the seat MERGE — matched seats refresh
  *    name/strings/is_corresponding (author bindings untouched — the
  *    guard only observes); new seats insert with the two-pass legacy
  *    author adoption (exact raw rank-1, else parsed-name rank-1).
  *  - [[telemetry]] (cell 16): the run rollup.
  *
  * `authorNames` contract: (raw_author_name, match_last, match_first,
  * parsed_last, parsed_first) — the author_names dictionary with both
  * the folded match keys (guard) and the parsed keys (legacy pass 2).
  *
  * Scale posture: the batch is watermark-bounded (a daily delta); every
  * window partitions by work or (work, candidate); the name dictionary
  * joins are broadcastable; the apply MERGE is one keyed join.
  */
object WorkAuthorGuard {

  private val Cjk = "[\\u1100-\\u11FF\\u3040-\\u30FF\\u3130-\\u318F" +
    "\\u3400-\\u4DBF\\u4E00-\\u9FFF\\uAC00-\\uD7AF\\uF900-\\uFAFF]"

  /** names_compatible v2 (cell 3, oxjob #608): folded-surname equality
    * with initial-or-missing first agreement, order swap, or surname
    * containment (min length 4); unparsed side falls back to raw
    * equality. NULL-proof: COALESCE(…, FALSE). */
  def namesCompatibleV2(aLast: Column, aFirst: Column, bLast: Column,
      bFirst: Column, aRaw: Column, bRaw: Column): Column = {
    val firstAgrees = substring(aFirst, 1, 1) === substring(bFirst, 1, 1) ||
      aFirst.isNull || bFirst.isNull
    coalesce(
      when(aLast.isNull || bLast.isNull,
        lower(trim(aRaw)) === lower(trim(bRaw)))
        .when(aLast === bLast && firstAgrees, lit(true))
        .when(aLast === bFirst && aFirst === bLast, lit(true))
        .when((aLast.startsWith(bLast) || aLast.endsWith(bLast) ||
          bLast.startsWith(aLast) || bLast.endsWith(aLast)) &&
          least(length(aLast), length(bLast)) >= 4 && firstAgrees, lit(true))
        .otherwise(lit(false)),
      lit(false))
  }

  /** Cell 7: base slot strings missing from work_authors → drifted
    * work ids. `worksBase`: (id, updated_date, authorships
    * ARRAY<STRUCT<raw_author_name, raw_affiliation_strings,
    * is_corresponding>>). */
  def stringDrift(worksBase: DataFrame, workAuthors: DataFrame): DataFrame = {
    val baseSlots = worksBase
      .filter(col("authorships").isNotNull && size(col("authorships")) > 0)
      .select(col("id").as("work_id"),
        posexplode(col("authorships")).as(Seq("author_sequence", "__a")))
      .select(col("work_id"), col("author_sequence"),
        explode(col("__a.raw_affiliation_strings")).as("raw_string"))
      .filter(col("raw_string").isNotNull && col("raw_string") =!= "")
    val waSlots = workAuthors
      .select(col("work_id"), col("author_sequence"),
        explode(col("raw_affiliation_strings")).as("raw_string"))
    baseSlots.join(waSlots,
        Seq("work_id", "author_sequence", "raw_string"), "left_anti")
      .select(col("work_id")).distinct()
  }

  /** Cell 9: the affiliation_update_batch — (work_id, author_sequence,
    * raw_author_name, updated_date, affiliation_structs). */
  def updateBatch(worksBase: DataFrame, workAuthors: DataFrame,
      maxUpdated: Column): DataFrame = {
    val drift = stringDrift(worksBase, workAuthors)
      .withColumn("__drift", lit(true))
    val admitted = worksBase
      .join(drift, col("id") === col("work_id"), "left").drop("work_id")
      .filter((col("updated_date") > maxUpdated || col("__drift")) &&
        col("authorships").isNotNull && size(col("authorships")) > 0)
    // the distinct and the per-seat aggregate both group by keys that
    // start with work_id: one exchange on work_id serves both
    admitted
      .select(col("id").as("work_id"), col("updated_date"),
        posexplode(col("authorships")).as(Seq("author_sequence", "__a")))
      .select(col("work_id"), col("author_sequence"), col("updated_date"),
        col("__a.raw_author_name").as("raw_author_name"),
        explode_outer(col("__a.raw_affiliation_strings"))
          .as("raw_affiliation_string"))
      .repartition(col("work_id"))
      .distinct()
      .groupBy(col("work_id"), col("author_sequence"),
        col("raw_author_name"))
      .agg(max(col("updated_date")).as("updated_date"),
        collect_list(struct(col("raw_affiliation_string").as("raw_string")))
          .as("affiliation_structs"))
  }

  /** One canonical match-key projection of the name dictionary. Every
    * guard lookup joins THIS subtree and renames the keys afterwards:
    * with per-prefix projections (`in_*`, `cur_*`, …) the five lookup
    * joins each built their own broadcast relation of the same
    * dictionary; with one canonical shape the planner's exchange reuse
    * builds the broadcast once and the other four become
    * ReusedExchange (guide §3.1: fewer broadcast builds). */
  private def nameKeysDict(authorNames: DataFrame): DataFrame =
    authorNames.select(col("raw_author_name").as("nk_raw"),
      col("match_last").as("nk_last"), col("match_first").as("nk_first"))

  /** Left-join `nameCol`'s trimmed value against the canonical
    * dictionary and expose the keys as `<prefix>_last`/`<prefix>_first`. */
  private def withNameKeys(df: DataFrame, dict: DataFrame, nameCol: Column,
      prefix: String): DataFrame =
    df.join(broadcast(dict), trim(nameCol) === col("nk_raw"), "left")
      .drop("nk_raw")
      .withColumnRenamed("nk_last", s"${prefix}_last")
      .withColumnRenamed("nk_first", s"${prefix}_first")

  /** Cell 11: the guard batch. Inputs beyond the batch: bound seats
    * (work_authors), the name dictionary, claim + removal curations,
    * author profiles (openalexAuthors with display_name/full_name,
    * authors with display_name), and the legacy work_authors.
    *
    * `boundary` cuts the plan after the verdict stage: the flagged
    * frame feeds FIVE downstream consumers (freed donors, realign,
    * legacy tiers, occupied, final), and without a boundary each
    * replays the whole batch+judgment subtree (the reference lands it
    * as a Delta table for the same reason). Pass
    * `df => Materialize.temp(df)._1` in multi-consumer pipelines;
    * the default keeps the plan pure. */
  def guardBatch(batch: DataFrame, workAuthors: DataFrame,
      authorNames: DataFrame, claimCurations: DataFrame,
      removeCurations: DataFrame, openalexAuthors: DataFrame,
      authors: DataFrame, legacy: DataFrame,
      boundary: DataFrame => DataFrame = identity): DataFrame = {
    val workSeats = workAuthors
      .join(batch.select(col("work_id")).distinct(), Seq("work_id"),
        "left_semi")
      .filter(col("author_id").isNotNull)
      .select(col("work_id"), col("author_sequence"),
        col("raw_author_name"), col("author_id"))
    val changed = batch.select(col("work_id"), col("author_sequence"),
        col("raw_author_name").as("incoming_name"))
      .join(workSeats.select(col("work_id"), col("author_sequence"),
        col("raw_author_name").as("current_name"),
        col("author_id").as("current_author_id")),
        Seq("work_id", "author_sequence"))
      .filter(!(lower(trim(col("incoming_name"))) <=>
        lower(trim(col("current_name")))))
      .distinct()
    val nkDict = nameKeysDict(authorNames)
    val judged = withNameKeys(withNameKeys(changed, nkDict,
        col("incoming_name"), "in"), nkDict, col("current_name"), "cur")
      .withColumn("verdict",
        when(col("incoming_name").rlike(Cjk) ||
          col("current_name").rlike(Cjk), "ABSTAIN_CJK")
          .when(col("in_last").isNull || col("cur_last").isNull,
            "ABSTAIN_UNPARSED")
          .when(namesCompatibleV2(col("in_last"), col("in_first"),
            col("cur_last"), col("cur_first"),
            col("incoming_name"), col("current_name")), "COMPATIBLE")
          .otherwise("INCOMPATIBLE"))
      .withColumn("work_incompat_count",
        count(when(col("verdict") === "INCOMPATIBLE", 1))
          .over(Window.partitionBy(col("work_id"))))
    val curated = judged
      .join(broadcast(claimCurations.select(col("work_id"),
        lower(trim(col("raw_author_name"))).as("__claim_name"))),
        Seq("work_id"))
      .filter(col("__claim_name") === lower(trim(col("incoming_name"))))
      .select(col("work_id"), col("author_sequence")).distinct()
      .withColumn("__cu", lit(true))
    val flagged = boundary(judged
      .join(curated, Seq("work_id", "author_sequence"), "left")
      .withColumn("curated_hold", coalesce(col("__cu"), lit(false)))
      .withColumn("invalidate", col("verdict") === "INCOMPATIBLE" &&
        col("work_incompat_count") >= 2 && !col("curated_hold"))
      .drop("__cu"))

    // hypothetical rebind cascade — freed donors with name-compatible
    // profiles
    val profile = openalexAuthors.select(col("id").as("__pid"),
        col("display_name").as("__oa_dn"), col("full_name").as("__oa_fn"))
      .join(authors.select(col("id").as("__aid"),
        col("display_name").as("__ar_dn")),
        col("__pid") === col("__aid"), "full_outer")
      .select(coalesce(col("__pid"), col("__aid")).as("__prof_id"),
        coalesce(col("__oa_dn"), col("__ar_dn")).as("__prof_dn"),
        col("__oa_fn").as("__prof_fn"))
    val freed = withNameKeys(withNameKeys(
        flagged.filter(col("invalidate"))
          .select(col("work_id"), col("current_name").as("donor_name"),
            col("current_author_id").as("donor_id"),
            col("cur_last").as("donor_last"),
            col("cur_first").as("donor_first"))
          .join(broadcast(profile), col("donor_id") === col("__prof_id"),
            "left"),
        nkDict, col("__prof_dn"), "pd"), nkDict, col("__prof_fn"), "pf")
      .filter(namesCompatibleV2(col("donor_last"), col("donor_first"),
        when(col("pd_last").isNotNull, col("pd_last"))
          .otherwise(col("pf_last")),
        when(col("pd_last").isNotNull, col("pd_first"))
          .otherwise(col("pf_first")),
        col("donor_name"), col("__prof_dn")))
      .select(col("work_id"), col("donor_name"), col("donor_id"),
        col("donor_last"), col("donor_first"))
    val invalidSeats = flagged.filter(col("invalidate"))
    val realignCand = invalidSeats
      .join(freed, Seq("work_id"))
      .groupBy(col("work_id"), col("author_sequence"))
      .agg(
        countDistinct(when(lower(trim(col("donor_name"))) ===
          lower(trim(col("incoming_name"))), col("donor_id"))).as("n_exact"),
        min(when(lower(trim(col("donor_name"))) ===
          lower(trim(col("incoming_name"))), col("donor_id"))).as("id_exact"),
        countDistinct(when(namesCompatibleV2(col("in_last"),
          col("in_first"), col("donor_last"), col("donor_first"),
          col("incoming_name"), col("donor_name")), col("donor_id")))
          .as("n_compat"),
        min(when(namesCompatibleV2(col("in_last"), col("in_first"),
          col("donor_last"), col("donor_first"), col("incoming_name"),
          col("donor_name")), col("donor_id"))).as("id_compat"))
    val realignChosen = realignCand.select(col("work_id"),
        col("author_sequence"),
        when(col("n_exact") === 1, col("id_exact"))
          .when(col("n_exact") === 0 && col("n_compat") === 1,
            col("id_compat")).as("chosen_id"))
      .filter(col("chosen_id").isNotNull)
      .withColumn("n_receivers", count(lit(1)).over(
        Window.partitionBy(col("work_id"), col("chosen_id"))))
    // the three legacy tiers (ok / exact / parsed) share one work-keyed
    // join against the legacy seats — fused into a single join + one
    // aggregation (the reference's three CTEs scan legacy three times;
    // the per-tier semantics are preserved as conditional aggregates:
    // le_n = 0 ⟺ no exact-raw row ⟺ the reference's NULL __le)
    val legDict = withNameKeys(legacy.filter(col("author_id").isNotNull),
        nkDict, col("raw_author_name"), "pn")
      .select(col("work_id"),
        lower(trim(col("raw_author_name"))).as("__l_raw"),
        col("author_id").as("__l_auth"),
        col("pn_last").as("__pn_last"), col("pn_first").as("__pn_first"))
    val parsedMatch = col("in_last").isNotNull &&
      col("__pn_last") === col("in_last") &&
      coalesce(col("__pn_first"), lit("")) ===
        coalesce(col("in_first"), lit(""))
    val exactMatch = col("__l_raw") === lower(trim(col("incoming_name")))
    val legStats = invalidSeats
      .select(col("work_id"), col("author_sequence"), col("incoming_name"),
        col("current_author_id"), col("in_last"), col("in_first"))
      .join(legDict, Seq("work_id"))
      .groupBy(col("work_id"), col("author_sequence"))
      .agg(
        max(col("__l_auth") === col("current_author_id")).as("__lok"),
        min(when(exactMatch, col("__l_auth"))).as("le_id"),
        countDistinct(when(exactMatch, col("__l_auth"))).as("le_n"),
        min(when(parsedMatch, col("__l_auth"))).as("lp_id"),
        countDistinct(when(parsedMatch, col("__l_auth"))).as("lp_n"))
    val withRebind = flagged
      .join(realignChosen, Seq("work_id", "author_sequence"), "left")
      .join(legStats, Seq("work_id", "author_sequence"), "left")
      .withColumn("realign_author_id",
        when(col("n_receivers") === 1, col("chosen_id")))
      .withColumn("legacy_fallback_ok", coalesce(col("__lok"), lit(false)))
      .withColumn("legacy_rebind_id",
        when(col("le_n") === 1, col("le_id"))
          .when(col("le_n") === 0 && col("lp_n") === 1, col("lp_id")))
      .withColumn("rebind_candidate", coalesce(col("realign_author_id"),
        when(col("legacy_fallback_ok"), col("legacy_rebind_id"))))
      .drop("chosen_id", "n_receivers", "__lok", "le_id", "le_n",
        "lp_id", "lp_n")
    val occupied = workSeats
      .join(invalidSeats.select(col("work_id"), col("author_sequence")),
        Seq("work_id", "author_sequence"), "left_anti")
      .select(col("work_id").as("__occ_w"), col("author_id").as("__occ"))
      .distinct()
    // flagged (post-boundary) has exactly changed's work set — join it
    // instead of replaying the changed subtree
    val removes = removeCurations
      .join(flagged.select(col("work_id")).distinct(), Seq("work_id"),
        "left_semi")
      .select(col("work_id").as("__rm_w"), col("author_id").as("__rm"))
      .distinct()
    withRebind
      .join(occupied, col("work_id") === col("__occ_w") &&
        col("rebind_candidate") === col("__occ"), "left")
      .drop("__occ_w")
      .join(removes, col("work_id") === col("__rm_w") &&
        col("rebind_candidate") === col("__rm"), "left")
      .drop("__rm_w")
      .withColumn("rebind_author_id",
        when(col("rebind_candidate").isNull, lit(null))
          .when(col("__occ").isNotNull, lit(null))
          .when(col("__rm").isNotNull, lit(null))
          .when(count(lit(1)).over(Window.partitionBy(col("work_id"),
            col("rebind_candidate"))) > 1, lit(null))
          .otherwise(col("rebind_candidate")))
      .drop("__occ", "__rm")
  }

  /** Cell 16: the telemetry rollup (one row). */
  def telemetry(guard: DataFrame): DataFrame =
    guard.agg(
      count(lit(1)).as("changed_name_positions"),
      count(when(col("verdict") === "INCOMPATIBLE", 1)).as("incompatible"),
      count(when(col("verdict") === "ABSTAIN_UNPARSED", 1))
        .as("abstain_unparsed"),
      count(when(col("verdict") === "ABSTAIN_CJK", 1)).as("abstain_cjk"),
      count(when(col("curated_hold") && col("verdict") === "INCOMPATIBLE", 1))
        .as("curated_holds"),
      count(when(col("invalidate"), 1)).as("would_invalidate"),
      count(when(col("invalidate") && col("rebind_author_id").isNotNull, 1))
        .as("rebindable"),
      count(when(col("invalidate") && col("rebind_author_id").isNotNull &&
        col("rebind_author_id") === col("realign_author_id"), 1))
        .as("realign_tier"),
      count(when(col("invalidate") && col("rebind_author_id").isNotNull &&
        (col("realign_author_id").isNull ||
          col("rebind_author_id") =!= col("realign_author_id")), 1))
        .as("legacy_tier"))

  /** Cell 13: the seat MERGE — matched seats refresh name/strings/
    * is_corresponding with the batch date; new seats insert with the
    * two-pass legacy author adoption. */
  def applyBatch(workAuthors: DataFrame, batch: DataFrame,
      worksBase: DataFrame, authorNames: DataFrame, legacy: DataFrame,
      now: Column): DataFrame = {
    val batchWorks = batch.select(col("work_id")).distinct()
    val corr = worksBase
      .join(batchWorks, col("id") === col("work_id"), "left_semi")
      .select(col("id").as("work_id"),
        posexplode(col("authorships")).as(Seq("author_sequence", "__a")))
      .select(col("work_id"), col("author_sequence"),
        col("__a.is_corresponding").as("__corr"))
    // one canonical parsed-key projection — the source enrich and the
    // legacy parsed tier join the same subtree so the broadcast builds
    // once (the per-tier filter folds into the inner-join condition)
    val pnDict = authorNames.select(col("raw_author_name").as("pn_raw"),
      col("parsed_last").as("pn_pl"), col("parsed_first").as("pn_pf"))
    val lwaName = legacy
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("work_id"),
          lower(trim(col("raw_author_name"))))
          .orderBy(col("author_sequence"))))
      .filter(col("__rank") === 1)
      .select(col("work_id").as("__ln_w"),
        lower(trim(col("raw_author_name"))).as("__ln_raw"),
        col("author_id").as("__ln_auth"))
    val lwaParsed = legacy
      .join(broadcast(pnDict),
        trim(col("raw_author_name")) === col("pn_raw") &&
          col("pn_pl").isNotNull && col("pn_pl") =!= "")
      .drop("pn_raw")
      .withColumnRenamed("pn_pl", "__lp_pl")
      .withColumnRenamed("pn_pf", "__lp_pf")
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("work_id"), col("__lp_pl"), col("__lp_pf"))
          .orderBy(col("author_sequence"))))
      .filter(col("__rank") === 1)
      .select(col("work_id").as("__lp_w"), col("__lp_pl"), col("__lp_pf"),
        col("author_id").as("__lp_auth"))
    val source = batch
      .select(col("work_id"), col("author_sequence"),
        col("raw_author_name"), col("updated_date"),
        explode_outer(col("affiliation_structs")).as("__aff"))
      .join(corr, Seq("work_id", "author_sequence"), "left")
      .join(broadcast(pnDict),
        trim(col("raw_author_name")) === col("pn_raw"), "left")
      .drop("pn_raw")
      .withColumnRenamed("pn_pl", "__src_pl")
      .withColumnRenamed("pn_pf", "__src_pf")
      .join(lwaName, col("work_id") === col("__ln_w") &&
        lower(trim(col("raw_author_name"))) === col("__ln_raw"), "left")
      .drop("__ln_w")
      .join(lwaParsed, col("work_id") === col("__lp_w") &&
        col("__ln_auth").isNull && col("__src_pl") === col("__lp_pl") &&
        col("__src_pf") === col("__lp_pf"), "left")
      .drop("__lp_w")
      .groupBy(col("work_id"), col("author_sequence"),
        col("raw_author_name"))
      .agg(
        array_compact(array_distinct(
          collect_list(col("__aff.raw_string"))))
          .as("raw_affiliation_strings"),
        max(col("__corr")).as("is_corresponding"),
        max(col("updated_date")).as("source_updated_date"),
        max(coalesce(col("__ln_auth"), col("__lp_auth")))
          .as("legacy_author_id"))
    MergeInto(workAuthors, source, "work_id", "author_sequence")
      .whenMatchedUpdate(Map(
        "raw_author_name" -> col("__src.raw_author_name"),
        "raw_affiliation_strings" -> col("__src.raw_affiliation_strings"),
        "is_corresponding" -> col("__src.is_corresponding"),
        "updated_at" -> col("__src.source_updated_date")))
      .whenNotMatchedInsertValues(Map(
        "work_id" -> col("__src.work_id"),
        "author_sequence" -> col("__src.author_sequence"),
        "author_id" -> col("__src.legacy_author_id"),
        "raw_author_name" -> col("__src.raw_author_name"),
        "raw_affiliation_strings" -> col("__src.raw_affiliation_strings"),
        "is_corresponding" -> col("__src.is_corresponding"),
        "created_at" -> now,
        "updated_at" -> col("__src.source_updated_date")))
      .run()
  }
}
