package graft.resolve

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.core.{IdMinter, Materialize}

/** Work-id mapping/minting — the locations_mapped semantics (reference:
  * notebooks/end2end/CreateLocationsMapped.sql:103-1170): adopt an
  * existing work id by key priority doi → pmid → arxiv → title_author,
  * with the reference's guards (title_author must be discriminative:
  * length > 20 and ≤ 3 distinct candidate ids — :961,:967), else mint a
  * new id above the 6.6B floor (identity-column semantics, :69).
  *
  * [[resolve]] runs four sequential per-tier left joins. The canonical
  * key map and the minted-id table are LANDED (`Materialize.temp`)
  * before the joins that read them, so those joins are planned from
  * real file sizes: on a rebuild the map is empty and on a daily delta
  * it holds the day's keys, so every tier and the mint join broadcast
  * and the location set never shuffles. Without the landings the
  * planner cannot size a derived map before both join sides start
  * their shuffles, and every tier shipped whole location rows to meet
  * an empty lookup. The key-map landing also counts the map's keys per
  * tier, and a tier with none is left out of the plan (a rebuild's
  * empty map joins nothing); it carries each key's largest id, so the
  * minter's base comes from the landing too and the map is read once.
  */
object WorkIdResolver {

  private val TitleAuthorCap = 3

  /** Per (key_type, key): the smallest id, the distinct id count and
    * the largest id (the minter's base is the largest over all keys,
    * ambiguous ones included). The map is partitioned on (key_type, key) first:
    * the count-distinct plans as two aggregates, on (key_type, key,
    * work_id) and then (key_type, key), and that one partitioning
    * serves both — one exchange, not two. */
  private def keyStats(idMap: DataFrame): DataFrame =
    idMap.repartition(col("key_type"), col("key"))
      .groupBy(col("key_type"), col("key"))
      .agg(min(col("work_id")).as("work_id"),
        countDistinct(col("work_id")).as("__n"),
        max(col("work_id")).as("__max"))

  /** Canonical candidate per (key_type, key): deterministic smallest
    * id; title_author keys with > cap distinct ids are unusable
    * (ambiguity guard) and drop out entirely. */
  private def canonicalPerKey(stats: DataFrame): DataFrame =
    stats.filter(col("key_type") =!= "title_author" || col("__n") <= TitleAuthorCap)
      .select(col("key_type"), col("key"), col("work_id"))

  /** Namespace-prefixed canonical mint key. Without the prefix, two
    * unresolved locations whose best keys collide ACROSS tiers (a pmid
    * string equal to an arxiv id, or a null-doi row's title_author
    * equal to another row's raw key) would silently merge into one
    * minted work, mirroring the key_type scoping of the idMap itself. */
  private def mintKey = coalesce(
    concat(lit("doi:"), col("merge_key.doi")),
    concat(lit("pmid:"), col("merge_key.pmid")),
    concat(lit("arxiv:"), col("merge_key.arxiv")),
    concat(lit("ta:"), col("merge_key.title_author")))

  /** (key, id) minted for the unresolved remainder of `adopted`, above
    * the largest id of the map `stats` summarizes. */
  private def mintedIds(adopted: DataFrame, stats: DataFrame): DataFrame = {
    val unresolved = adopted.filter(col("work_id").isNull)
      .select(mintKey.as("key")).distinct()
    IdMinter.mint(stats.select(col("key"), col("__max").as("id")),
      unresolved, "key", "id")
  }

  /** `adopted` with the unresolved rows' work ids taken from `minted`. */
  private def withMinted(adopted: DataFrame, minted: DataFrame): DataFrame = {
    val m = minted.select(col("key").as("__mint_key"), col("id").as("__mint_id"))
    adopted
      .join(m, mintKey === col("__mint_key") && col("work_id").isNull, "left")
      .withColumn("work_id", coalesce(col("work_id"), col("__mint_id")))
      .withColumn("work_id_source",
        when(col("work_id_source").isNull && col("__mint_id").isNotNull, "minted")
          .otherwise(col("work_id_source")))
      .drop("__mint_key", "__mint_id")
  }

  private def taGuard = length(coalesce(col("merge_key.title_author"), lit(""))) > 20

  /** @param locations rows with merge_key STRUCT<doi,pmid,arxiv,title_author>
    * @param idMap     (key_type, key, work_id) existing mappings
    * @return locations + work_id (adopted or minted) + work_id_source */
  def resolve(locations: DataFrame, idMap: DataFrame): DataFrame = {
    val tiers = Seq(
      ("doi", col("merge_key.doi"), lit(true)),
      ("pmid", col("merge_key.pmid"), lit(true)),
      ("arxiv", col("merge_key.arxiv"), lit(true)),
      ("title_author", col("merge_key.title_author"), taGuard))
    // the landing job also counts the map's keys per tier
    // (`Dataset.observe`, no extra job): a tier with no keys adopts
    // nothing, so its join is left out
    val keysPerTier = Observation()
    val counts = tiers.map { case (kt, _, _) => count_if(col("key_type") === kt).as(kt) }
    val stats = Materialize.temp(
      keyStats(idMap).observe(keysPerTier, counts.head, counts.tail: _*),
      "graft-keymap")._1
    val present = keysPerTier.get
    val perKey = canonicalPerKey(stats)
    def adopt(df: DataFrame, kt: String, keyExpr: org.apache.spark.sql.Column,
        guard: org.apache.spark.sql.Column): DataFrame = {
      val m = perKey.filter(col("key_type") === kt)
        .select(col("key").as(s"__k_$kt"), col("work_id").as(s"__id_$kt"))
      df.join(m, keyExpr === col(s"__k_$kt") && guard &&
        col("work_id").isNull, "left")
        .withColumn("work_id", coalesce(col("work_id"), col(s"__id_$kt")))
        .withColumn("work_id_source",
          when(col("work_id_source").isNull && col(s"__id_$kt").isNotNull, lit(kt))
            .otherwise(col("work_id_source")))
        .drop(s"__k_$kt", s"__id_$kt")
    }
    val init = locations
      .withColumn("work_id", lit(null).cast("long"))
      .withColumn("work_id_source", lit(null).cast("string"))
    val adopted = tiers
      .filter { case (kt, _, _) => present(kt).asInstanceOf[Long] > 0L }
      .foldLeft(init) { case (df, (kt, key, guard)) => adopt(df, kt, key, guard) }
    // the day's new keys only; landing them costs one re-run of the
    // broadcast tier joins and lets the mint join broadcast as well
    withMinted(adopted, Materialize.temp(mintedIds(adopted, stats), "graft-minted")._1)
  }
}
