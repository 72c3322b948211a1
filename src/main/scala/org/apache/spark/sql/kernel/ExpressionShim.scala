package org.apache.spark.sql.kernel

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** The part of the engine's kernel layer that needs Spark's
  * package-private API: moving between a `Column` and the Catalyst
  * `Expression` it stands for. A Column helper builds its kernel as
  * `column(Kernel(expression(arg), artifact))`, so the kernel enters
  * the plan as an expression with its artifact as a constructor
  * argument, on any session, with no function registry lookup. */
object ExpressionShim {

  /** `e` as a Column; unresolved children resolve with the plan. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The (possibly unresolved) expression `c` stands for. */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
