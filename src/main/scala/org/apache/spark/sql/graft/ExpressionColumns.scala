package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Converts between Columns and Catalyst expressions. Spark 4 keeps the
  * converters `private[sql]`; this object sits under `org.apache.spark.sql`
  * only to reach them, so graft's native expressions can take Scala arguments that
  * SQL function syntax cannot carry (e.g. the registry of
  * `graft.plans.ExtractExpression`). */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
