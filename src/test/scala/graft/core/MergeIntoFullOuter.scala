package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import MergeInto._

/** The full-outer formulation of [[MergeInto.run]] — an executable
  * spec only. It joins target and source FULL outer for every clause
  * set; `run` joins left outer when no insert clause is registered.
  * MergeIntoParitySpec pins the two against each other. */
object MergeIntoFullOuter {

  def run(m: MergeInto): DataFrame = {
    import m.{clauses, keys, source, sourceDedup, target}
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
    val joined = t.join(s, joinCond, "full_outer")

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
