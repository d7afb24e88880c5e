package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column <-> catalyst Expression
  * conversions (org.apache.spark.sql.classic.ExpressionUtils, Spark
  * 4.x columnNodeSupport). The stock pattern for extension libraries
  * that define custom Catalyst expressions (graft.plans.IndexProbe)
  * and surface them through the public Column API. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
