package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incrementalization primitives — the reference's actual performance
  * story (SURVEY §4): nightly work proportional to CHANGED rows, not
  * table size.
  *
  *  - content hash over canonicalized fields with an updated_date bump
  *    only on change (CreateWorksEnriched.ipynb:544-608 — xxhash64 over
  *    ~30 canonical fields; no-op suppression)
  *  - key-level diff old↔new → (insert / update / delete) change sets
  *    (the CDF-read equivalent, Crossref.py:326-329)
  *  - high-watermark filtering for incremental batch reads
  *    (CreateWorkFulltext.ipynb:100-171)
  *
  * Scale: the diff is one full-outer join on the key with hash
  * comparison — change-detection guards skip no-op updates so the
  * downstream MERGE touches only real changes (MERGE narrowing,
  * CreateLocationsMapped.sql:350-385).
  */
object Incremental {

  /** Deterministic content hash over the given columns. Arrays/structs
    * must already be deterministically ordered (SURVEY §7.4 #2 — the
    * reference's tiebreak chains exist exactly so this hash is stable). */
  def contentHash(cols: Seq[Column]): Column =
    xxhash64(to_json(struct(cols: _*)))

  /** Key-level diff: rows in `next` vs `prev` → change set with
    * `_change_type` ∈ insert | update | delete, updates only when the
    * content hash differs (no-op suppression). */
  def diff(prev: DataFrame, next: DataFrame, keys: Seq[String],
      hashCols: Seq[String],
      hasher: Seq[Column] => Column = contentHash): DataFrame = {
    // prev-side keys renamed so prev/next sharing lineage (a self-diff
    // over the same source) never hits ambiguous-column resolution
    val ph = prev.select(keys.zipWithIndex.map { case (k, i) =>
      col(k).as(s"__pk$i")
    } :+ hasher(hashCols.map(col)).as("__ph"): _*)
    val nh = next.withColumn("__nh", hasher(hashCols.map(col)))
    val joinCond = keys.zipWithIndex.map { case (k, i) =>
      col(k) <=> col(s"__pk$i")
    }.reduce(_ && _)
    val joined = nh.join(ph, joinCond, "full_outer")
    val changeType = when(col("__ph").isNull, "insert")
      .when(col("__nh").isNull, "delete")
      .when(col("__nh") =!= col("__ph"), "update")
    joined.withColumn("_change_type", changeType)
      .filter(col("_change_type").isNotNull)
      .select(keys.zipWithIndex.map { case (k, i) =>
        coalesce(col(k), col(s"__pk$i")).as(k)
      } :+ col("_change_type") :+ col("__nh").as("content_hash"): _*)
  }

  /** updated-date bump only when content changed (no-op suppression for
    * the persisted updated_date, CreateWorksEnriched.ipynb:544-608). */
  def bumpUpdatedDate(next: DataFrame, prevHashes: DataFrame, keys: Seq[String],
      hashCols: Seq[String], now: Column): DataFrame = {
    val nh = next.withColumn("__nh", contentHash(hashCols.map(col)))
    val ph = prevHashes.select(keys.map(col) :+ col("content_hash").as("__ph") :+
      col("updated_date").as("__pu"): _*)
    nh.join(ph, keys, "left")
      .withColumn("updated_date",
        when(col("__ph").isNull || col("__nh") =!= col("__ph"), now)
          .otherwise(col("__pu")))
      .withColumn("content_hash", col("__nh"))
      .drop("__nh", "__ph", "__pu")
  }

  /** A scalar field of a canonical content string: its string form, or
    * `dflt` when NULL. */
  def contentStr(c: Column, dflt: String): Column =
    coalesce(c.cast("string"), lit(dflt))

  /** A nested field of a canonical content string: its JSON, or `dflt`
    * when NULL. */
  def contentJson(c: Column, dflt: String): Column =
    coalesce(to_json(c), lit(dflt))

  /** Pre-rebuild snapshot of an API table: (id, updated_date,
    * content_hash), the hash taken over the entity's canonical content
    * string. */
  def hashSnapshot(api: DataFrame, contentKey: Column): DataFrame =
    api.select(col("id"), col("updated_date"),
      xxhash64(contentKey).as("content_hash"))

  /** Post-rebuild MERGE of an API table: new ids and changed content get
    * `now`; unchanged rows keep their previous date. Unlike
    * [[bumpUpdatedDate]], the hash is xxhash64 of the entity's canonical
    * content string (hash equality ⟺ string equality, so a SQL oracle
    * can gate on the string) and the join is on `id`. */
  def stampUpdatedDate(api: DataFrame, prevHashes: DataFrame,
      contentKey: Column, now: Column): DataFrame = {
    val ph = prevHashes.select(col("id").as("__pid"),
      col("updated_date").as("__pdate"), col("content_hash").as("__ph"))
    api.withColumn("__nh", xxhash64(contentKey))
      .join(ph, col("id") === col("__pid"), "left")
      .withColumn("updated_date",
        when(col("__pid").isNull || col("__nh") =!= col("__ph"), now)
          .otherwise(col("__pdate")))
      .drop("__pid", "__pdate", "__ph", "__nh")
  }

  /** High-watermark incremental read: rows strictly above the stored
    * watermark (a data column, so replays are idempotent). */
  def aboveWatermark(df: DataFrame, seqCol: Column, watermark: Option[Long]): DataFrame =
    watermark match {
      case Some(w) => df.filter(seqCol > w)
      case None => df
    }
}
