package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 moved these conversions behind
  * `private[sql] ExpressionUtils`; declaring this object inside an
  * `org.apache.spark.sql` subpackage is the standard pattern libraries use
  * to plug custom Catalyst expressions into the public Column API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A resolved logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — the DML rule uses it to hand a MERGE statement's
    * source plan to the Scala merge APIs.
    */
  def dataFrame(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A micro-batch's rows as a plain BATCH DataFrame. A V1 `Sink`'s
    * `addBatch` data arrives `isStreaming = true`, so handing it to
    * batch write APIs throws "streaming sources must be executed with
    * writeStream.start()"; the supported recipe (Spark's own console/
    * foreachBatch sinks) is to re-wrap the executed RDD through
    * `internalCreateDataFrame(isStreaming = false)` — `private[sql]`,
    * hence bridged here.
    */
  def batchDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val ds = data.asInstanceOf[org.apache.spark.sql.classic.DataFrame]
    classic.internalCreateDataFrame(
      ds.queryExecution.toRdd, data.schema, isStreaming = false)
  }

  /** Block until every listener event posted so far has been delivered
    * (`listenerBus` is `private[spark]`) — lets a caller read a
    * listener's counts right after an action without sleeping.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession,
      timeoutMs: Long = 60000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Register a function builder into a live session's registry (the
    * public path is SparkSessionExtensions, which only applies at session
    * build time; this covers sessions the library did not create).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft.plans.TextHashExprs", name),
        builder)
  }
}
