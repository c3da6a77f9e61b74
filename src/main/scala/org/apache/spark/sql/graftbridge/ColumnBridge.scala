package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal `private[sql]` bridge: build a classic `Column` directly
  * from a Catalyst `Expression` (and back) without a round trip through
  * the session FunctionRegistry — the standard extension-library
  * technique (Delta/Frameless do the same) for Spark 4's sql-api
  * `Column`, whose Expression constructor moved behind
  * `classic.ExpressionUtils`. The one way the library builds a native
  * expression: every typed builder in `graft.functions` goes through
  * here, so no operator needs a registered SQL function. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
