package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

// Minimal bridges to `private[sql]` Spark API. This is the only file
// outside the `graft` namespace; it adds no behavior.

/** The `private[sql]` Column ↔ Expression converters —
  * needed so the SQL FunctionRegistry layer can reuse the Column-based
  * Redshift shims as expression builders.
  *
  * `toExpression` converts eagerly (the lazy `ExpressionUtils.expression`
  * wrapper defers conversion past analysis, leaving unresolvable
  * `columnnodeexpression` nodes in injected-function output).
  */
object ColumnBridge {
  def toExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter.apply(c.node)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
}

/** A DataFrame over a logical plan the caller built (the Runner's DML
  * evaluator builds one from Spark's resolved MERGE / UPDATE / DELETE).
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
