package graft.awards

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Award-id normalization keys + the award→work merge (reference:
  * notebooks/awards/AwardNormKey.sql — the generated per-funder key
  * functions — and notebooks/awards/WorkAwards.ipynb — the
  * normalized-key lookup with family election; the 351 per-funder
  * Create*Awards ingest scripts all feed this shared shape).
  *
  * Key regimes:
  *  - GENERIC key: lowercase, strip non-alphanumerics; if the stripped
  *    form is ≥4 chars use it, else lowercased-exact (WorkAwards
  *    `nk`). Spelling variants of the same id collapse; short ids stay
  *    sharp to avoid mass collisions.
  *  - SHARP key: per-funder grammar (AwardNormKey.sql `award_norm_key`)
  *    with distinct registry-side (anchored — registry data is clean)
  *    and deposited-side (salvaging — strings arrive with prefixes and
  *    junk) rules. The rule table (`graft.plans.AwardKeyExprs`) carries
  *    a representative subset of the 60+ configured funders covering
  *    every rule shape — prefix-strip, anchored extract,
  *    multi-alternative salvage, zero-trim via bigint cast, LPAD
  *    recompose; the rest is data entry. The same rules as Column
  *    chains are the test-scope spec (SharpRules).
  *  - WEAKNESS guard (`award_id_is_weak`): a deposited string whose
  *    normalized form is a bare number at a dense-numeric-registry
  *    funder is never sufficient evidence for an automatic merge — its
  *    sharp key is suppressed.
  *
  * Scale: key derivation is row-local (no shuffle); the canonical
  * election is one window per regime over the awards registry (small
  * side); the work join is a pair of keyed equijoins.
  */
object AwardKeys {

  /** The shared normalization prelude (AwardNormKey.sql `_t`): upper,
    * trim, literal `\U2xxx` escape sequences → '-', unicode dashes →
    * '-', unicode spaces → ' ', collapse runs of spaces. */
  def normalized(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      upper(trim(c)),
      "\\\\U2[0-9A-F]{3}", "-"),
      "[\\u2010-\\u2015\\u2212\\uFE58\\uFE63\\uFF0D\\uF000-\\uF8FF]", "-"),
      "[\\u00A0\\u1680\\u2000-\\u200B\\u202F\\u205F\\u3000]", " "),
      "  +", " ")

  /** WorkAwards generic key: stripped-lower if ≥4 chars else
    * lowercased-exact. */
  def genericKey(c: Column): Column = {
    val stripped = regexp_replace(lower(c), "[^a-z0-9]", "")
    when(c.isNull, lit(null).cast("string"))
      .when(length(stripped) >= 4, stripped)
      .otherwise(lower(trim(c)))
  }

  /** `award_id_is_weak`: deposited bare numbers at dense numeric
    * registries (single source of truth WEAK_BARE in the generator;
    * the data lives in [[graft.plans.AwardWeakBare]] so the native
    * expression and this module share one table). */
  val weakBare: Seq[(Long, String)] = graft.plans.AwardWeakBare.entries

  def isWeak(funderId: Column, awardId: Column): Column =
    isWeakNorm(funderId, normalized(awardId))

  /** [[isWeak]] over an ALREADY-normalized column. Callers that also
    * derive the sharp key should project `normalized(awardId)` once
    * and pass the attribute to both *_Norm variants: passing the raw
    * id inlines the 4-regex normalization subtree into every rule arm
    * (~150 copies across the 50-rule chain), which triples the
    * analyzed/codegen'd tree — plan-build time that every pass pays.
    *
    * r18: evaluates via the native [[graft.plans.AwardIsWeak]]
    * expression — one tree node, hash dispatch, per-JVM compiled
    * patterns. The reference Column chain lives on as the test-scope
    * spec (ChainSpecs); AwardKeysSpec asserts per-row parity across
    * every configured funder × an adversarial string battery. */
  def isWeakNorm(funderId: Column, n: Column): Column =
    org.apache.spark.sql.GraftExpr.column(graft.plans.AwardIsWeak(
      org.apache.spark.sql.GraftExpr.expression(funderId.cast("long")),
      org.apache.spark.sql.GraftExpr.expression(n)))

  /** Sharp key for (funder, award, side); null for unconfigured
    * funders — callers fall back to the generic key.
    *
    * Codegen note (re-measured r17 at the q68 rotation, 150k rows):
    * the 50-branch chain's generated code tops the JVM 64KB
    * single-method limit, so whole-stage codegen falls back to the
    * row-based projection for this stage. Per row only the matched
    * funder's regexes evaluate (guards are cheap long equality) —
    * BUT inlining `normalized(awardId)` per rule arm (the pre-r17
    * form of this method) both tripled the analyzed/codegen'd tree
    * (plan-build time every pass pays) and re-ran the 4-regex prelude
    * per arm use per row in the interpreted fallback: hoisting it to
    * a projected attribute via [[sharpKeyNorm]] halved q68's task CPU
    * (4.2 → 1.8 s) and its plan-build gap (2.75 → 1.2 s). Row-local
    * and embarrassingly parallel — scales linearly with executors. */
  def sharpKey(funderId: Column, awardId: Column, registrySide: Column): Column =
    sharpKeyNorm(funderId, normalized(awardId), registrySide)

  /** [[sharpKey]] over an ALREADY-normalized column (see
    * [[isWeakNorm]] for why callers should project it once).
    *
    * r18: evaluates via the native [[graft.plans.AwardSharpKey]]
    * expression. The pre-r18 `when` chain's generated code topped the
    * JVM 64 KB method limit, so whole-stage codegen failed (and burned
    * ~1 s of Janino work) on EVERY pass of every consumer before
    * falling back to row mode; the native node keeps stages
    * codegen-able and dispatches by hash instead of 40 guards. A null
    * registrySide coalesces to false = the chain's `otherwise`
    * (deposited) branch. The Column chain over the rules lives on
    * as the test-scope spec (SharpRules, ChainSpecs) for the parity
    * test. */
  def sharpKeyNorm(funderId: Column, n: Column, registrySide: Column): Column =
    org.apache.spark.sql.GraftExpr.column(graft.plans.AwardSharpKey(
      org.apache.spark.sql.GraftExpr.expression(funderId.cast("long")),
      org.apache.spark.sql.GraftExpr.expression(n),
      org.apache.spark.sql.GraftExpr.expression(
        coalesce(registrySide, lit(false)))))

  /** Deposited provenances (WorkAwards): sharp keys from these are
    * weakness-guarded; everything else is registry-side. */
  val DepositedProvenances: Seq[String] = Seq("crossref_work_funders",
    "crossref_work.grants", "crossref_work", "europepmc_work_funders",
    "datacite_work_funders")

  /** Canonical award per (funder, key, regime) — WorkAwards `awards`:
    * regime 'g' elects by (has display_name, id); regime 's' elects by
    * (is_registry, has display_name, newest end_year, id) — families
    * sharing a sharp key elect the newest year's registry record.
    * @param awards (id, display_name, funder_id, funder_award_id,
    *               end_year, provenance) */
  def canonicalLookup(awards: DataFrame): DataFrame = {
    val isReg = !col("provenance").isin(DepositedProvenances: _*)
    val base = awards.filter(col("funder_award_id").isNotNull)
      .withColumn("gk", genericKey(col("funder_award_id")))
      // normalized ONCE as an attribute; the rule chain references it
      // instead of inlining the 4-regex prelude per arm (isWeakNorm doc)
      .withColumn("__nrm", normalized(col("funder_award_id")))
      // weakness guards DEPOSITED evidence only; registry ids are
      // trusted (WorkAwards awards_base CASE)
      .withColumn("sk", when(isReg || !isWeakNorm(col("funder_id"), col("__nrm")),
        sharpKeyNorm(col("funder_id"), col("__nrm"), isReg)))
      .drop("__nrm")
      .withColumn("is_registry", isReg.cast("int"))
    val g = base.withColumn("__rn", row_number().over(
        Window.partitionBy(col("funder_id"), col("gk"))
          .orderBy(col("display_name").isNotNull.desc, col("id"))))
      .filter(col("__rn") === 1)
      .select(col("id"), col("display_name"), col("funder_id"),
        col("funder_award_id"), col("gk").as("nk"), lit("g").as("regime"))
    val s = base.filter(col("sk").isNotNull)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("funder_id"), col("sk"))
          .orderBy(col("is_registry").desc, col("display_name").isNotNull.desc,
            col("end_year").desc_nulls_last, col("id"))))
      .filter(col("__rn") === 1)
      .select(col("id"), col("display_name"), col("funder_id"),
        col("funder_award_id"), col("sk").as("nk"), lit("s").as("regime"))
    g.unionByName(s)
  }

  /** WorkAwards join: generic key first, sharp-deposited key second
    * (weak deposited keys suppressed — they never auto-merge).
    * @param workFunders (work_id, funder_id, funder_award_id) */
  def matchWorkAwards(workFunders: DataFrame, lookup: DataFrame): DataFrame = {
    val keyed = workFunders
      .withColumn("nk", genericKey(col("funder_award_id")))
      .withColumn("__nrm", normalized(col("funder_award_id")))
      .withColumn("sk", when(!isWeakNorm(col("funder_id"), col("__nrm")),
        sharpKeyNorm(col("funder_id"), col("__nrm"), lit(false))))
      .drop("__nrm")
    val g = lookup.filter(col("regime") === "g").select(
      col("funder_id").as("__gf"), col("nk").as("__gk"),
      col("id").as("__gid"), col("display_name").as("__gdn"),
      col("funder_award_id").as("__gaid"))
    val s = lookup.filter(col("regime") === "s").select(
      col("funder_id").as("__sf"), col("nk").as("__sk"),
      col("id").as("__sid"), col("display_name").as("__sdn"),
      col("funder_award_id").as("__said"))
    keyed
      .join(g, col("funder_id") === col("__gf") && col("nk") === col("__gk"), "left")
      .join(s, col("funder_id") === col("__sf") && col("sk") === col("__sk"), "left")
      .filter(coalesce(col("__gid"), col("__sid")).isNotNull)
      .select(col("work_id"), col("funder_id"),
        col("funder_award_id").as("deposited_award_id"),
        coalesce(col("__gid"), col("__sid")).as("award_id"),
        coalesce(col("__gdn"), col("__sdn")).as("award_display_name"),
        coalesce(col("__gaid"), col("__said")).as("canonical_award_id"),
        when(col("__gid").isNotNull, "generic").otherwise("sharp").as("matched_via"))
  }
}
