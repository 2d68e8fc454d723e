package org.apache.spark.sql.graft

import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.Decimal

/** The two errors a `sum(x.cast("decimal(p, s)"))` raises under ANSI
  * mode, for graft aggregates that reproduce that sum exactly
  * (graft.plans.VectorMoments): a term that does not fit decimal(p, s)
  * and a running sum that overflows it. Spark keeps its error factories
  * `private[sql]`, hence this object in Spark's package namespace.
  */
object DecimalErrors {
  def termOutOfRange(value: Double, precision: Int, scale: Int): ArithmeticException =
    QueryExecutionErrors.cannotChangeDecimalPrecisionError(Decimal(value), precision, scale, null)

  def sumOverflow(): ArithmeticException =
    QueryExecutionErrors.overflowInSumOfDecimalError(null, "try_sum")
}
