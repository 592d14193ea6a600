package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Catalyst expressions and `Column`s converted both ways, without the
  * session's function registry. Spark 4 keeps these conversions private
  * to its `sql` package, so the calls that need them live here. */
object ExpressionColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)

  /** `c`'s Catalyst expression, converted now rather than when a Dataset
    * takes the column, so a builder sees a `lit(...)` argument as the
    * foldable `Literal` it is. */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
