package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's package-private Column⇄Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils` is `private[sql]`).
  * Lives under the spark package solely to re-export the two calls the
  * engine needs for native-Expression columns.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over an arbitrary logical plan (`Dataset.ofRows` is
    * `private[sql]`) — the hook custom logical operators need.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `plan` run through the session's analyzer and checked: one analysis,
    * no Dataset.
    */
  def analyze(spark: org.apache.spark.sql.SparkSession,
              plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.executePlan(plan).analyzed

  /** DataFrame over a plan that is already analyzed but was rewritten
    * since (e.g. a filter added over resolved attributes): the plan is
    * only CHECKED — which marks it analyzed — so building the Dataset runs
    * no analyzer rule.
    */
  def ofAnalyzed(spark: org.apache.spark.sql.SparkSession,
                 plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame = {
    spark.sessionState.analyzer.checkAnalysis(plan)
    ofRows(spark, plan)
  }

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** The optimized logical plan behind a DataFrame. */
  def optimizedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan

  /** `schema` with every field nullable, as a file read reports it
    * (`StructType.asNullable` is `private[spark]`).
    */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Spark's own WRONG_NUM_ARGS AnalysisException
    * (`QueryCompilationErrors.wrongNumArgsError` is `private[sql]`) — so
    * function-builder arity failures surface exactly like builtin ones.
    */
  def wrongNumArgs(name: String, expected: Seq[Int], actual: Int): Nothing =
    throw org.apache.spark.sql.errors.QueryCompilationErrors
      .wrongNumArgsError(name, expected, actual)
}
