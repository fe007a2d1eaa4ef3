package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * The bridge between graft's Catalyst expressions and the Column API,
 * over classic Spark's `private[sql]` `ExpressionUtils`. A Column API
 * builds its expression from its arguments' expressions and wraps the
 * result: no session and no function-registry lookup is involved, so the
 * returned Column works on any classic session, inside lambdas and under
 * later aliases, and resolves to the expression the SQL name builds.
 * Arguments are converted when the Column is built, under the thread's
 * current SQL conf.
 */
object ColumnShim {

  /** `e` as a Column; an aggregate function is wrapped as a plain
    * (non-distinct, complete-mode) aggregate call. */
  def column(e: Expression): Column = ExpressionUtils.column(e match {
    case agg: AggregateFunction => agg.toAggregateExpression()
    case other => other
  })

  /** The (possibly unresolved) expression behind `c`. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A resolved key expression with its floats normalized (−0.0 → 0.0,
    * one NaN) the way `groupBy` normalizes its grouping keys. */
  def normalizedKey(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)
}
