package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the private[sql] Column ↔ Expression conversions (Spark 4
  * removed the public Column.expr). Used by graft.functions to expose
  * native Catalyst expressions through the Column API.
  */
object GraftColumnBridge {
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
}
