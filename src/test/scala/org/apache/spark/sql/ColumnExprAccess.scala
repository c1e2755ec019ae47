package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Test-only bridge: the column-node converter is `private[sql]`, but
  * ConfigColumnsSpec needs the unresolved Catalyst tree of a bare
  * `Column` (no session, no plan) to audit which source columns a
  * funder config references. `classic.ExpressionUtils.expression`
  * would only wrap the node in an opaque leaf with no children. */
object ColumnExprAccess {
  def expr(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)
}
