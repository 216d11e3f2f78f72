package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** A Column over a Catalyst expression graft builds itself — Spark keeps
  * the conversion package-private.
  */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
