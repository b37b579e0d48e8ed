package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression conversion for custom Catalyst expressions.
  * Spark 4 made these helpers `private[sql]`, so the accepted extension
  * pattern is a forwarding object inside the `org.apache.spark.sql`
  * namespace (the `graftbridge` package is the only code outside `graft`). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
