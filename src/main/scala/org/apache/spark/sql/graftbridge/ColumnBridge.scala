package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column ↔ Expression
  * converters (`classic.ExpressionUtils`): the one route by which the
  * engine builds a `Column` from its native Catalyst expressions (the
  * typed functions of `graft.expressions.UrlExpressions`), including
  * those bound to a per-call-site object (a broadcast Bloom, a robots
  * rule map).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
