package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` constructors that a library building custom
  * plan nodes and expressions needs: turning a [[LogicalPlan]] back into a
  * DataFrame (SPARK-31561) and converting Expression ↔ Column (Spark 4's
  * Column wraps a backend-agnostic ColumnNode, so both directions go
  * through `classic.ExpressionUtils`). Spark offers no public API for
  * either; every library that ships custom plans/expressions uses a
  * package-located accessor like this one. Call sites:
  * `graft.plans.TopK`, `graft.plans.VectorExprs` users. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Re-wrap a streaming micro-batch DataFrame (as handed to
    * `Sink.addBatch`) as a BATCH DataFrame of `session` over the same
    * executed plan — the ForeachBatchSink recipe (`isStreaming` would
    * otherwise refuse `df.write` inside a sink). `session` need not be
    * the micro-batch's own (the query's clone): jobs of the returned
    * frame carry `session`'s artifact state. The wrapped frame re-runs
    * the physical RDD on each action; materialize once downstream if
    * acting twice. */
  def unStream(df: DataFrame, session: SparkSession): DataFrame =
    session.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd, df.schema,
      isStreaming = false)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
