package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression converters. Spark 4
  * moved these behind `org.apache.spark.sql.classic`; third-party
  * extensions conventionally alias them from inside the package (the
  * same pattern Spark connectors use) rather than forking the API.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The session's function registry (`sessionState` is `private[sql]`);
    * lets [[graft.plans.GraftFunctions]] register the custom expressions
    * as SQL functions on sessions built WITHOUT `withExtensions` — e.g.
    * the driver's.
    */
  def functionRegistry(spark: SparkSession)
      : catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry

  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
