package org.apache.spark.sql.columnshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.classic.ExpressionUtils

/** Conversions between `Column` and Catalyst `Expression`, so the engine's
  * native functions build their Columns from their expressions directly,
  * with no session function registry in between. Spark keeps these
  * converters `private[sql]`; this object, in a subpackage of
  * `org.apache.spark.sql`, is the one place that reaches them.
  */
object ExpressionColumns {

  /** A Column of `e`. An aggregate function is wrapped in its aggregate
    * expression, as the analyzer wraps a function it resolves by name.
    */
  def column(e: Expression): Column = ExpressionUtils.column(e match {
    case f: AggregateFunction => f.toAggregateExpression()
    case other => other
  })

  /** The (unresolved) expression of `c`. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
