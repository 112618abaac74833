package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, TypeCollection}

/** Bridge into the `private[sql]` Column ↔ Expression converters — the
  * supported pattern for libraries that define custom Catalyst expressions
  * without forking Spark. Kept to the two conversions and the one
  * `private[sql]` input-type collection a graft aggregate declares. */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** What Spark's `percentile` accepts as its value, implicit casts
    * included: numeric (strings cast to double) and ANSI intervals. */
  def percentileInputTypes: Seq[AbstractDataType] = Seq(TypeCollection.NumericAndAnsiInterval)
}
