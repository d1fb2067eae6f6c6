package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark 4's `private[sql]` Column ↔ Expression conversions
  * (`org.apache.spark.sql.classic.ExpressionUtils`) so graft's custom
  * Catalyst expressions can expose a public Column API. This is the
  * standard extension-library pattern for Spark 4's split
  * sql-api/classic layering; no Spark internals are modified.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan as a DataFrame (Dataset.ofRows is
    * private[sql]) — needed to expose custom whole-operator logical
    * nodes through the public DataFrame API.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (for embedding as a
    * custom operator's child).
    */
  def logicalPlan(df: DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Rewrap a (persisted) DataFrame as a leaf `LogicalRDD` over its
    * own execution RDD, truncating logical-plan lineage without
    * copying data — the same mechanism `Dataset.localCheckpoint` uses,
    * minus the extra storage level (the input's `persist()` cache IS
    * the storage; executing the wrapper scans that cache).
    *
    * Iterative algorithms need this: a loop body that self-joins its
    * previous iterate (pointer doubling, label propagation) doubles
    * the logical TREE per iteration even when the data is cached —
    * after k iterations the plan holds 2^k leaf copies, and the plan
    * string Spark renders for the SQL-execution-start event alone
    * OOMs the driver (observed at k≈12 in DeepComponentSpec before
    * this existed). `fromDataset` preserves the physical partitioning
    * and ordering of the wrapped plan, so downstream joins on the
    * same key avoid a re-shuffle. Loops reach it through
    * `graft.util.LoopScope.next`, which also owns the persist.
    */
  def truncateLineage(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** Register a SQL temp function on a LIVE session (the runtime
    * analog of SparkSessionExtensions.injectFunction for sessions the
    * driver already built — sessionState is private[sql], hence this
    * bridge). Idempotent: createOrReplaceTempFunction overwrites.
    */
  def registerSqlFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
