package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Wraps a Catalyst expression as a Column. Spark keeps this conversion
  * private to its `sql` package, so the bridge lives inside it. */
object ExpressionColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
}
