package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SCD-type-1 CDC apply — the open re-expression of DLT
  * `dlt.create_auto_cdc_flow` / `apply_changes(keys, sequence_by,
  * stored_as_scd_type=1, apply_as_deletes, ignore_null_updates)`
  * (reference: notebooks/ingest/Crossref.py:284-289,593-602;
  * notebooks/ingest/UnionAllWorksIntoLocationsParsed.ipynb:113).
  *
  * Sequencing is by a DATA column (last-writer-wins on `sequenceBy`), not
  * arrival time — so batch and incremental application are equivalent and
  * replayable (SURVEY §2.10). The implementation is one window dedup: keep
  * the highest-sequence change per key, drop rows whose winning change is
  * a delete. At scale this is a single shuffle on `keys`; map-side
  * partial aggregation does not apply to row_number, so for very hot keys
  * pre-aggregate per input split with `max_by` when the payload allows.
  */
object Scd1Upsert {

  /** Latest-wins dedup of a change batch (no prior state). `tiebreak`
    * makes the result deterministic when `sequenceBy` values collide —
    * the reference uses native_id / xxhash64(to_json(...)) tiebreaks
    * (CreateCrossrefSuperAuthorships.ipynb:36). */
  def latest(
      changes: DataFrame,
      keys: Seq[String],
      sequenceBy: Column,
      tiebreak: Seq[Column] = Nil,
      deleteWhen: Option[Column] = None): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((sequenceBy.desc +: tiebreak.map(_.desc)): _*)
    val winners = changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    deleteWhen match {
      case Some(d) => winners.filter(!coalesce(d, lit(false)))
      case None => winners
    }
  }

  /** Incremental CDC state with TOMBSTONES: the winner row per key is
    * retained even when it is a delete, so a stale (lower-sequence)
    * update arriving in a later batch cannot resurrect a deleted key —
    * the same guarantee Delta's `apply_changes` gets from storing the
    * delete's sequence. `state` carries a `__deleted` flag; read the
    * live view with [[current]]. Pass `state = None` for the first
    * batch. */
  def applyTombstoned(
      state: Option[DataFrame],
      changes: DataFrame,
      keys: Seq[String],
      sequenceBy: Column,
      tiebreak: Seq[Column] = Nil,
      deleteWhen: Option[Column] = None): DataFrame = {
    val isDel = deleteWhen.getOrElse(lit(false))
    val tagged = changes.withColumn("__deleted", coalesce(isDel, lit(false)))
    val unioned = state match {
      case Some(st) => st.unionByName(tagged.select(st.columns.map(col).toSeq: _*))
      case None => tagged
    }
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((sequenceBy.desc +: tiebreak.map(_.desc)): _*)
    unioned.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Live (non-deleted) view of a tombstoned state. */
  def current(state: DataFrame): DataFrame =
    state.filter(!col("__deleted")).drop("__deleted")
}
