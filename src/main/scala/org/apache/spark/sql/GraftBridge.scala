package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge into Spark's `private[sql]` Column <-> Expression converters
 * (Spark 4 made Column a ColumnNode wrapper; this is the sanctioned
 * internal path used by Spark's own DSL).
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** register a Catalyst expression builder as a SQL function on a live session */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val fr = spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    val ident = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
    val info = new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      "graft", name)
    fr.registerFunction(ident, info, builder)
  }

  /** wrap an analyzed/unanalyzed logical plan as a DataFrame (Dataset.ofRows is private[sql]) */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** DataFrame from an InternalRow RDD without encoder round-trips
    * (SparkSession.internalCreateDataFrame is private[sql]) — for
    * kernels that repack rows at the binary level */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** `df`'s rows as InternalRows, with the attributes they bind to, run
    * as one SQL execution of its own (nested under the caller's, if any) */
  def collectInternal(df: DataFrame): (Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      Array[org.apache.spark.sql.catalyst.InternalRow]) = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    (qe.executedPlan.output,
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(
        qe.executedPlan.executeCollect()))
  }

  /** register a table-valued function (FROM-clause) on a live session */
  def registerTableFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
    val tfr = spark.asInstanceOf[classic.SparkSession].sessionState.tableFunctionRegistry
    val ident = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
    val info = new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name)
    tfr.registerFunction(ident, info, builder)
  }
}
