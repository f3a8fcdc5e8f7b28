package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Accessors for the classic-Spark internals graft needs.
  *
  * Spark 4 made `Column` representation-agnostic and scoped the classic
  * converters, session cloning and plan-to-Dataset binding
  * `private[sql]`, so a library that builds its SQL functions from
  * Column-level combinators (GraftExtensions: st_relate_rect and
  * friends expand through graft.functions.RectRelate) or binds a plan
  * to another session ([[graft.Session]]) needs this package-local
  * accessor — the established pattern for open-source Spark extension
  * libraries. Nothing here adds behavior; it only re-exports.
  */
object ColumnBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** EAGER conversion (ColumnNodeToExpressionConverter), not the lazy
    * `ColumnNodeExpression` wrapper of `ExpressionUtils.expression`: an
    * Expression returned from an injected function builder is spliced
    * into a plan the analyzer is already resolving, where the lazy
    * wrapper never gets unwrapped and dies at codegen. The eager
    * converter yields a plain catalyst tree (nested functions come back
    * as catalyst `UnresolvedFunction`s, resolved by the analyzer's
    * fixed-point like any other). */
  def toExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** A new session sharing `s`'s context and shared state (catalog,
    * cache manager), starting from a copy of its conf, temp views,
    * functions and listeners. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `plan` as a DataFrame of `s`. */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
}
