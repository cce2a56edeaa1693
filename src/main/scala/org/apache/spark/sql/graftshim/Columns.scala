package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeExpression, ColumnNodeToExpressionConverter, ExpressionUtils}

/** `classic.ExpressionUtils` is `private[sql]` in Spark 4; this shim lives
  * inside the `org.apache.spark.sql` package tree solely to convert between
  * [[Column]] and a custom Catalyst [[Expression]] (the standard
  * access-widening pattern for Spark-internal hooks). Used by the compiled
  * Bloblang subset's native expressions (graft.functions.Exprs) and by the
  * compiled switch's case chains (graft.blob.Compile).
  */
object Columns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Rewrite `c` so that each single-part column reference whose name is
    * bound in `env` reads the bound Column instead. One pass: the bound
    * Columns themselves are not rewritten again. */
  def substitute(c: Column, env: Map[String, Column]): Column = {
    val bound = env.map { case (n, v) => n -> unfold(v) }
    column(unfold(c).transformUp {
      case a: UnresolvedAttribute if a.nameParts.length == 1 && bound.contains(a.nameParts.head) =>
        bound(a.nameParts.head)
    })
  }

  /** The Column's whole Catalyst tree: `expression` keeps a Column as one
    * opaque leaf, and a custom expression may hold such leaves too. */
  private def unfold(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node).transformDown {
      case ColumnNodeExpression(n) => ColumnNodeToExpressionConverter(n)
    }
}
