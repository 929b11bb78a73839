package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4.x keeps Column↔Expression conversion `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils, SPARK-44444 ColumnNode
  * refactor). This shim lives under the org.apache.spark.sql package
  * namespace purely to re-export those two conversions for graft's
  * native kernel columns (graft.functions.Kernel) — no Spark internals
  * are modified.
  */
object GraftColumnBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
}
