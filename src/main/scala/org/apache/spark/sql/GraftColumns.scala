package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's package-private Column <-> Catalyst conversions, so
  * graft builds a native expression's Column directly instead of naming
  * it through a session's function registry. */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
