package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column ↔ Expression
  * converters (`classic.ExpressionUtils`), for the one place the engine
  * must build a `Column` from a custom Catalyst expression bound to a
  * per-call-site object (the broadcast Bloom probe — see
  * `graft.expressions.UrlExpressions.shardedBloomProbe`). Everything else
  * goes through the public function-registry route.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
