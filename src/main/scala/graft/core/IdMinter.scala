package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deterministic id minting — the open equivalent of Delta
  * `GENERATED BY DEFAULT AS IDENTITY (START WITH 6600000001)`
  * (reference: notebooks/end2end/CreateLocationsMapped.sql:69, work-id
  * minting with legacy-id adoption below the floor).
  *
  * New keys get `max(existing id, floor) + row_number()` over a
  * deterministic key ordering — stable across reruns for the same input,
  * collision-free by construction. The global-order window means the NEW
  * keys pass through a single partition: that is fine because minting
  * batches are the day's *new* entities (thousands-to-millions), never
  * the full corpus; the existing-id side stays fully distributed.
  * Callers that join the minted ids back onto a wide frame land them
  * first (`WorkIdResolver.resolve` uses `Materialize.temp`): the landed
  * table is sized from its files, so the join-back broadcasts and the
  * single-partition window stays out of the consuming plan.
  */
object IdMinter {
  val DefaultFloor = 6600000000L

  /** @param existing  (key, id) current mapping — ids below or above floor
    * @param newKeys   distinct keys to mint (must not already be mapped)
    * @return          (key, id) for the new keys only */
  def mint(existing: DataFrame, newKeys: DataFrame, keyCol: String,
      idCol: String, floor: Long = DefaultFloor): DataFrame = {
    val base = existing.agg(
      coalesce(max(col(idCol)), lit(floor)).as("__base"))
    val w = Window.orderBy(col(keyCol))
    newKeys.select(col(keyCol)).distinct()
      .withColumn("__rn", row_number().over(w))
      .crossJoin(broadcast(base))
      .select(col(keyCol),
        (greatest(col("__base"), lit(floor)) + col("__rn")).as(idCol))
  }
}
