package graft.authors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.IdMinter

/** Author disambiguation: blocking + tiered cascade with the
  * unique-match rule (reference: notebooks/end2end/MatchAuthors.ipynb:
  * 212-907 — block key = first-initial+last :296, ORCID tier with the
  * publisher-stamped-duplicate skip :392, signal tiers with
  * `count == 1` uniqueness :470-530, minting for the rest).
  *
  * Scale: every tier is an equijoin on block_key (the skew-prone
  * "similarity join" — AQE skew splitting applies; for pathological
  * blocks the reference caps the worklist, we cap candidates per block
  * upstream). Tiers run as independent joins on the shrinking unmatched
  * remainder.
  */
object AuthorMatcher {

  /** @param incoming  (work_id, author_seq, block_key, orcid,
    *                   institution_ids ARRAY, source_id)
    * @param candidates (author_id, block_key, orcid,
    *                   institution_ids ARRAY, source_ids ARRAY)
    * @return incoming + author_id + match_tier */
  def matchAuthors(incoming: DataFrame, candidates: DataFrame): DataFrame = {
    // ORCID tier — skipped for works where the same orcid appears on
    // multiple authorships (publisher stamping, MatchAuthors.ipynb:392)
    val dupOrcid = incoming.filter(col("orcid").isNotNull)
      .groupBy(col("work_id"), col("orcid")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("work_id").as("__dw"), col("orcid").as("__do"))
    val orcidable = incoming
      .join(dupOrcid, col("work_id") === col("__dw") && col("orcid") === col("__do"),
        "left_anti")
      .filter(col("orcid").isNotNull)
    val byOrcid = orcidable.join(
        candidates.filter(col("orcid").isNotNull)
          .groupBy(col("orcid")).agg(min(col("author_id")).as("author_id")),
        Seq("orcid"))
      .select(col("work_id"), col("author_seq"), col("author_id"),
        lit("orcid").as("match_tier"))

    val afterOrcid = incoming.join(byOrcid.select("work_id", "author_seq"),
      Seq("work_id", "author_seq"), "left_anti")

    // Tiers 2–4 share the block-key equijoin and differ only in which
    // SIGNAL must match uniquely — and an authorship reaches tier N+1
    // exactly when tier N's candidate count ≠ 1. So all three tiers
    // collapse into ONE join + ONE aggregation with conditional
    // distinct-counts per signal (round 1 ran three joins plus three
    // anti-joins over the same pairs — 3× the shuffles for identical
    // results; the q52 oracle mirrors the sequential form and proves
    // the fusion equivalent).
    // author_id.isNotNull: a null-id candidate row would form its own
    // level-1 group and be counted by count(when(__instHit, 1)) — the
    // sequential form's countDistinct(author_id) ignored nulls, so a
    // null-only hit must fall through to the next tier, not block it.
    val cand = candidates.filter(col("author_id").isNotNull)
      .select(col("author_id"), col("block_key").as("__bk"),
      col("institution_ids").as("__inst"), col("source_ids").as("__src"))
    val pairs = afterOrcid.join(cand, col("block_key") === col("__bk"))
      .withColumn("__instHit", arrays_overlap(col("institution_ids"), col("__inst")))
      .withColumn("__srcHit", array_contains(col("__src"), col("source_id")))
    // Two-level aggregation instead of three countDistinct's in one
    // groupBy: multiple distinct aggregates plan through Expand, which
    // multiplies the (skew-prone) block-pair frame 4× before the
    // shuffle. Level 1 dedups per candidate author (O(1) state; a
    // duplicate candidate row OR-folds its signals via max), level 2 is
    // then plain counts — no Expand anywhere, same tier semantics.
    // Both levels group by keys that start with (work_id, author_seq):
    // the pairs are partitioned on that prefix once, before level 1, and
    // level 2 reuses it (one exchange for the chain, not two).
    val perCandidate = pairs
      .select(col("work_id"), col("author_seq"), col("author_id"),
        col("__instHit"), col("__srcHit"))
      .repartition(col("work_id"), col("author_seq"))
      .groupBy(col("work_id"), col("author_seq"), col("author_id"))
      .agg(max(col("__instHit")).as("__instHit"),
        max(col("__srcHit")).as("__srcHit"))
    val perAuthorship = perCandidate.groupBy(col("work_id"), col("author_seq")).agg(
      count(when(col("__instHit"), lit(1))).as("__n2"),
      min(when(col("__instHit"), col("author_id"))).as("__a2"),
      count(when(col("__srcHit"), lit(1))).as("__n3"),
      min(when(col("__srcHit"), col("author_id"))).as("__a3"),
      count(col("author_id")).as("__n4"),
      min(col("author_id")).as("__a4"))
    val tiered = perAuthorship.select(col("work_id"), col("author_seq"),
      when(col("__n2") === 1, col("__a2"))
        .when(col("__n3") === 1, col("__a3"))
        .when(col("__n4") === 1, col("__a4")).as("author_id"),
      when(col("__n2") === 1, "name_institution")
        .when(col("__n3") === 1, "name_source")
        .when(col("__n4") === 1, "name_unique").as("match_tier"))
      .filter(col("author_id").isNotNull)

    // mint new author ids for the remainder (per distinct block_key)
    val afterTiers = afterOrcid.join(tiered.select("work_id", "author_seq"),
      Seq("work_id", "author_seq"), "left_anti")
    val minted = IdMinter.mint(
      candidates.select(col("block_key").as("key"), col("author_id").as("id")),
      afterTiers.select(col("block_key").as("key")), "key", "id")
    val byMint = afterTiers.join(minted, col("block_key") === col("key"))
      .select(col("work_id"), col("author_seq"), col("id").as("author_id"),
        lit("minted").as("match_tier"))

    val matched = byOrcid.unionByName(tiered).unionByName(byMint)
    incoming.join(matched, Seq("work_id", "author_seq"), "left")
  }
}
