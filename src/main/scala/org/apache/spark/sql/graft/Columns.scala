package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one bridge between graft's Column handles and Catalyst: Spark keeps
  * the Expression <-> Column conversion `private[sql]`, so it is reached
  * from this package and nowhere else. A Column built with [[of]] carries
  * its expression directly and needs nothing registered on the session
  * that plans it. */
object Columns {
  def of(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
