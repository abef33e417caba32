package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors

/** The two package-private Spark 4 hooks graft's native Columns need,
  * in one place. [[column]] wraps a Catalyst expression as a Column and
  * [[expression]] embeds a Column in one; the embedded Column is
  * converted when the enclosing Column is, so building
  * `column(TokensWs(expression(text)))` needs no session and no
  * function-registry lookup, and analyzes to the same plan as the
  * registered `tokens_ws(text)`. */
object NativeColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's own `WRONG_NUM_ARGS` analysis error, as the builtins raise it. */
  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(name, Seq(expected), actual)
}
