package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** A Catalyst expression as a `Column`, without the session's function
  * registry. Spark 4 keeps this conversion private to its `sql` package,
  * so the one call that needs it lives here. */
object ExpressionColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
}
