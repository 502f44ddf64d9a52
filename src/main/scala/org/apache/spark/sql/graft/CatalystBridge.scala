package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to Spark's `private[sql]` Column↔Expression
  * converters — the one sanctioned way to hand a Column-composed tree
  * to a FunctionRegistry builder. Lives in an `org.apache.spark.sql`
  * subpackage solely for access; no Spark internals are modified. */
object CatalystBridge {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The Spark schema of a parquet `footer`, converted under `spark`'s
    * confs as Spark's own schema inference converts each footer —
    * `ParquetFileFormat.readSchema` is not public and the conf lives on
    * the classic session, hence bridged. */
  def parquetSchema(footer: org.apache.parquet.hadoop.Footer,
      spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf))
  }

  /** Executor-side memory page size for external sorters (what
    * `SortExec` passes to `UnsafeExternalRowSorter.create`) —
    * `SparkEnv.memoryManager` is `private[spark]`, hence bridged. */
  def pageSizeBytes: Long =
    org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes

  /** Block until the SparkListener bus has dispatched every queued
    * event. QueryExecutionListener callbacks (CacheRegistry's
    * auto-drain) ride this bus asynchronously, so a leak check that
    * does not quiesce first races the drain it is auditing —
    * `SparkContext.listenerBus` is `private[spark]`, hence bridged. */
  def waitListenerBusEmpty(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
