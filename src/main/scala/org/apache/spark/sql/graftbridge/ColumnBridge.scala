package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Expression ⇄ Column bridge: how [[graft.functions.Native]] calls
  * graft's Catalyst expressions as Columns, with their runtime parameters
  * (seeded planes, centroids, trained tables) as plain arguments.
  *
  * `classic.ExpressionUtils` is `private[sql]`; placing this one-file
  * shim in an `org.apache.spark.sql` subpackage is the standard pattern
  * Spark extension libraries use to reach the classic-API converters —
  * no internals are modified, only re-exported. */
object ColumnBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
