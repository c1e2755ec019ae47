package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Join-based re-expression of Delta `MERGE INTO` semantics
  * (reference: notebooks/end2end/CreateLocationsMapped.sql:117-522 —
  * multi-clause MERGE with null-safe keys, conditional update guards,
  * no-op suppression; notebooks/end2end/CreateWorksEnriched.ipynb:88,164,
  * 205,608 — enrichment upserts).
  *
  * Design (Spark-first): one outer join on null-safe key equality, then
  * per-column `when` resolution — the whole merge is a single Catalyst
  * plan, not a row-at-a-time upsert. The join is no wider than the
  * clauses: only a `whenNotMatchedInsert*` clause can keep a source-only
  * row, so without one the join is LEFT outer (target rows survive,
  * source rows only meet them). A left outer join can broadcast a small
  * source, so the target never shuffles, and AQE can split skewed keys
  * under it; a full outer join can do neither. With an insert clause it
  * is one full-outer shuffle on the merge key. At 100 TB the target
  * should be stored bucketed / range-partitioned on `keys` so that join
  * is co-located; the operator itself is storage-agnostic.
  *
  * Clause semantics (the subset the reference uses):
  *   - whenMatchedUpdate(set, cond):  MATCHED [AND cond] THEN UPDATE SET …
  *   - whenMatchedDelete(cond):       MATCHED [AND cond] THEN DELETE
  *   - whenNotMatchedInsert(cond):    NOT MATCHED [AND cond] THEN INSERT *
  *   - whenNotMatchedBySourceDelete:  NOT MATCHED BY SOURCE THEN DELETE
  * Clauses evaluate in registration order; the first whose condition holds
  * wins (Delta's rule).
  *
  * The source must be unique per key (Delta errors on multiple matches;
  * the reference pre-dedups with ROW_NUMBER()/QUALIFY —
  * CreateLocationsMapped.sql:103-113). `dedupSourceBy(order…)` replicates
  * that QUALIFY idiom.
  */
final class MergeInto(
    private[core] val target: DataFrame,
    private[core] val source: DataFrame,
    private[core] val keys: Seq[String]) {
  import MergeInto._

  private[core] var clauses: Vector[Clause] = Vector.empty
  private[core] var sourceDedup: Option[Seq[Column]] = None

  def whenMatchedUpdate(set: Map[String, Column], condition: Column = lit(true)): MergeInto = {
    clauses :+= MatchedUpdate(condition, set); this
  }

  /** UPDATE SET * — every target column from the same-named source column. */
  def whenMatchedUpdateAll(condition: Column = lit(true)): MergeInto =
    whenMatchedUpdate(target.columns.map(c => c -> col(s"__src.$c")).toMap, condition)

  def whenMatchedDelete(condition: Column = lit(true)): MergeInto = {
    clauses :+= MatchedDelete(condition); this
  }

  def whenNotMatchedInsert(condition: Column = lit(true)): MergeInto = {
    clauses :+= NotMatchedInsert(condition, None); this
  }

  def whenNotMatchedInsertValues(values: Map[String, Column], condition: Column = lit(true)): MergeInto = {
    clauses :+= NotMatchedInsert(condition, Some(values)); this
  }

  def whenNotMatchedBySourceDelete(condition: Column = lit(true)): MergeInto = {
    clauses :+= NotMatchedBySourceDelete(condition); this
  }

  /** QUALIFY ROW_NUMBER()=1 pre-dedup of the source on the merge keys
    * (reference orders by updated_date DESC + deterministic tiebreaks). */
  def dedupSourceBy(order: Column*): MergeInto = {
    sourceDedup = Some(order); this
  }

  def run(): DataFrame = {
    val src0 = sourceDedup match {
      case Some(order) =>
        val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
        source.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      case None => source
    }
    // Explicit existence markers: correct even for rows whose every data
    // column is NULL (key-presence heuristics are not).
    val t = target.withColumn("__t_exists", lit(true)).alias("__tgt")
    val s = src0.withColumn("__s_exists", lit(true)).alias("__src")
    // Null-safe key equality: the reference's MERGE conditions use
    // `IS NOT DISTINCT FROM` (CreateLocationsMapped.sql:330-349).
    val joinCond = keys.map(k => col(s"__tgt.$k") <=> col(s"__src.$k")).reduce(_ && _)
    val inserts = clauses.exists(_.isInstanceOf[NotMatchedInsert])
    val joined = t.join(s, joinCond, if (inserts) "full_outer" else "left_outer")

    val matched = col("__tgt.__t_exists").isNotNull && col("__src.__s_exists").isNotNull
    val notMatched = col("__tgt.__t_exists").isNull && col("__src.__s_exists").isNotNull
    val bySource = col("__tgt.__t_exists").isNotNull && col("__src.__s_exists").isNull

    // Delta evaluates clauses IN ORDER and stops at the first whose
    // condition holds (per match category). Make each clause's
    // condition explicitly disjoint with all earlier same-category
    // clauses, so a later clause can neither change a row an earlier
    // clause claimed nor contribute columns the earlier clause left.
    def disjoint(category: Column, conds: Seq[Column]): Seq[Column] = {
      var prior: Column = lit(false)
      conds.map { c =>
        val eff = category && coalesce(c, lit(false)) && !prior
        prior = prior || (category && coalesce(c, lit(false)))
        eff
      }
    }
    val matchedClauses = clauses.collect {
      case u: MatchedUpdate => (u.cond, Some(u.set))
      case d: MatchedDelete => (d.cond, None)
    }
    val effMatched = disjoint(matched, matchedClauses.map(_._1))
      .zip(matchedClauses.map(_._2))
    val insertClauses = clauses.collect { case i: NotMatchedInsert => i }
    val effInsert = disjoint(notMatched, insertClauses.map(_.cond))
      .zip(insertClauses.map(_.values))
    val effBySourceDel = disjoint(bySource,
      clauses.collect { case d: NotMatchedBySourceDelete => d.cond })

    val outCols = target.columns.map { c =>
      var expr: Column = col(s"__tgt.$c")
      effMatched.foreach {
        case (eff, Some(set)) if set.contains(c) =>
          expr = when(eff, set(c)).otherwise(expr)
        case _ => ()
      }
      effInsert.foreach { case (eff, values) =>
        val v = values.flatMap(_.get(c)).getOrElse(
          if (src0.columns.contains(c)) col(s"__src.$c") else lit(null))
        expr = when(eff, v).otherwise(expr)
      }
      expr.as(c)
    }

    val deletedByMatch = effMatched.collect { case (eff, None) => eff }
      .foldLeft(lit(false))(_ || _)
    val inserted = effInsert.map(_._1).foldLeft(lit(false))(_ || _)
    val deletedBySource = effBySourceDel.foldLeft(lit(false))(_ || _)
    val keep = when(notMatched, inserted)
      .when(matched, !deletedByMatch)
      .otherwise(!deletedBySource)

    joined.filter(keep).select(outCols: _*)
  }
}

object MergeInto {
  private[core] sealed trait Clause
  private[core] case class MatchedUpdate(cond: Column, set: Map[String, Column]) extends Clause
  private[core] case class MatchedDelete(cond: Column) extends Clause
  private[core] case class NotMatchedInsert(cond: Column, values: Option[Map[String, Column]]) extends Clause
  private[core] case class NotMatchedBySourceDelete(cond: Column) extends Clause

  def apply(target: DataFrame, source: DataFrame, keys: String*): MergeInto =
    new MergeInto(target, source, keys)
}
