package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Catalyst expression, for an expression built directly — its
  * model or index rides inside the instance and serializes with the plan —
  * instead of through the session's function registry, where every binding
  * would stay registered for the session's lifetime. */
object ExpressionColumn {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
