package graft.works

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Rules-table work-type classifier: an ordered Seq of (condition,
  * type) evaluated first-match-wins, compiled into one `when` chain
  * (single codegen'd expression, no join, no UDF). The rules are the
  * reference's frozen 163-rule cascade
  * (notebooks/end2end/CreateLocationsWithTypes.sql:14-694), which
  * [[TypeRules.fullRules]] transliterates; [[TypeRules.finalType]]
  * applies them with the ingest-dict fallback and the final verdict
  * selection.
  */
object TypeClassifier {

  final case class Rule(name: String, cond: Column, workType: String)

  /** Compile rules into a first-match-wins expression. */
  def classify(rules: Seq[Rule], default: String = "article"): Column =
    rules.foldRight(lit(default): Column)((r, acc) =>
      when(r.cond, r.workType).otherwise(acc))
}
