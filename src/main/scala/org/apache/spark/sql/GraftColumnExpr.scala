package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Accessor for the classic Column → catalyst Expression conversion, which
  * Spark 4 scoped `private[sql]` during the Connect API unification
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Library code needs the
  * unresolved Expression to fold predicate conjuncts against commit-log
  * file statistics ([[graft.sources.TxnTable]] data skipping) — the same
  * package-scoped seam other open-source Spark table formats reach through.
  * Read-only: no plan is mutated, the expression is pattern-matched only.
  */
object GraftColumnExpr {
  /** Eager conversion (the lazy `ExpressionUtils.expression` wrapper defers
    * to resolution time, which never comes for a pattern-match-only use).
    * Operators arrive as `analysis.UnresolvedFunction("and" | ">=" | …)`
    * nodes; the caller normalizes those names. */
  def expr(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)

  /** The inverse seam: wrap a catalyst Expression as a classic Column —
    * needed for expressions that carry non-Expression state (the
    * deletion-vector probe's bitmap table) and therefore cannot go
    * through the SQL function registry. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** An analyzed LogicalPlan as a DataFrame (`Dataset.ofRows`, scoped
    * `private[sql]` in Spark 4) — the seam the SQL DML lowering uses to
    * hand a parsed MERGE source subtree to the DataFrame-level
    * [[graft.sources.TxnTable.mergeMulti]] engine. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `StructType.asNullable` (scoped `private[spark]`): a file scan reads
    * every data column as nullable, as Spark's own file sources do. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable
}
