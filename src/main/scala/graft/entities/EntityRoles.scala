package graft.entities

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `institution_roles` / `publisher_roles`: the entity's own role plus
  * the roles of the entities linked to it. The reference's OR-keyed
  * `entity_link` join is rewritten as a union of two equijoins (the
  * Funders-API idiom, `Funders.scala`); each linked role takes its
  * works_count from `entityCounts`; every non-funder role is kept but
  * only the top funder; the array is (role, id)-sorted (documented
  * deviation — the reference leaves COLLECT_LIST unordered).
  * `Funders.roles` stays separate: it keeps the top row of every role. */
private[entities] object EntityRoles {

  private val OA = "https://openalex.org/"

  /** @param entities registry rows (id, merge_into_id)
    * @param key the output id column (`institution_id` / `publisher_id`)
    * @param letter the entity's id prefix in `entityLinks` (I / P)
    * @param role the entity's own role name
    * @param ownCounts (key, works_count) of the entity's own role
    * @param peer the linked non-funder kind: (id prefix, role name)
    * @param entityLinks (id_1, id_2) prefixed entity-link pairs
    * @param entityCounts (entity_id, works_count) of the linked kinds */
  def roles(entities: DataFrame, key: String, letter: String, role: String,
      ownCounts: DataFrame, peer: (String, String), entityLinks: DataFrame,
      entityCounts: DataFrame): DataFrame = {
    val (peerLetter, peerRole) = peer
    val ent = entities.filter(col("merge_into_id").isNull)
      .select(col("id").as(key),
        concat(lit(letter), col("id").cast("string")).as("__key"))
    val own = ent
      .join(ownCounts.select(col(key), col("works_count")), Seq(key), "left")
      .select(col(key), lit(role).as("role"),
        concat(lit(OA), col("__key")).as("id"), col("works_count"))
    val links = entityLinks.select(col("id_1"), col("id_2"))
    val linked = ent.join(broadcast(links), col("id_1") === col("__key"))
        .select(col(key), col("id_2").as("__ent"))
      .unionByName(ent.join(broadcast(links), col("id_2") === col("__key"))
        .select(col(key), col("id_1").as("__ent")))
      .filter(col("__ent").startsWith(peerLetter) ||
        col("__ent").startsWith("F"))
      .join(broadcast(entityCounts.select(col("entity_id").as("__ent"),
        col("works_count"))), Seq("__ent"), "left")
      .select(col(key),
        when(col("__ent").startsWith(peerLetter), peerRole)
          .otherwise("funder").as("role"),
        concat(lit(OA), col("__ent")).as("id"), col("works_count"))
    val all = own.unionByName(linked)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(key), col("role"))
          .orderBy(col("works_count").desc_nulls_last, col("id").asc)))
      .filter(col("rn") === 1 || col("role") =!= "funder")
    val byRoleId: (Column, Column) => Column = (l, r) =>
      when(l("role") < r("role"), -1).when(l("role") > r("role"), 1)
        .when(l("id") < r("id"), -1).when(l("id") > r("id"), 1).otherwise(0)
    all.groupBy(col(key))
      .agg(array_sort(collect_list(struct(col("role"), col("id"),
        coalesce(col("works_count"), lit(0)).cast("int").as("works_count"))),
        byRoleId).as("roles"))
  }
}
