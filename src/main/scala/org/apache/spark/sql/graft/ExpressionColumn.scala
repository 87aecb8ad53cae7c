package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** A Catalyst expression as a DataFrame [[Column]]. Spark 4 keeps the
  * conversion `private[sql]`; an expression that carries a driver
  * object (a broadcast handle) has no name to `call_function` it by. */
object ExpressionColumn {
  def apply(e: Expression): Column = org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
