package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression: the one route from Scala into a
  * graft native expression. Every kernel's typed column builder
  * (graft.functions) constructs its expression directly, so no
  * operator depends on the session's function registry. Spark 4 keeps
  * these two conversions `private[sql]`, hence this one object in
  * Spark's package namespace.
  */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
