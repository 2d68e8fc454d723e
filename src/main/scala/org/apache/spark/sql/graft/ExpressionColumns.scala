package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression for graft kernels that cannot go
  * through the function registry: an expression holding a
  * driver-collected matrix (graft.plans.NearestCentroid and friends)
  * has no SQL literal form worth building. Spark 4 keeps these two
  * conversions `private[sql]`, hence this one object in Spark's
  * package namespace.
  */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
