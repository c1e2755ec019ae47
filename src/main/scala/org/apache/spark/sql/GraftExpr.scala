package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column ⇄ Expression converters — the
  * standard pattern for Spark extension libraries that define custom
  * Catalyst expressions (graft.plans.*) and need to expose them as
  * `Column`s without a session-bound function registry. It adds no
  * behavior.
  */
object GraftExpr {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
